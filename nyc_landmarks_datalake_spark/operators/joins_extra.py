"""Join-surface completion: left/right/full outer, cross, salted
skew-safe equi-join, and first/last/explode coverage.

Scale notes: outer joins shuffle like inner (null-extension is local);
the salted join is the manual skew remedy — replicate the small side
R ways, scatter the hot keys uniformly, join on (key, salt) — for
engines/wheres AQE skew-split can't see the skew (e.g. skew introduced
by an upstream operator in the same stage). Results are provably
identical to the plain join (oracle-checked).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.functions.hashing import md5_long, md5_long_sql
from nyc_landmarks_datalake_spark.functions.numeric import dsum, dsum_sql
from nyc_landmarks_datalake_spark.registry import query
from nyc_landmarks_datalake_spark.sources.catalog import table

SALT_BUCKETS = 8


# ---------------------------------------------------------------------------
# Full outer join with aggregation over the null-extended sides.
# ---------------------------------------------------------------------------
@query(
    "q_full_outer_join",
    sql=f"""
    WITH per_cust AS (
        SELECT o_custkey, COUNT(*) AS n_orders,
               {dsum_sql('o_totalprice')} AS spend
        FROM orders GROUP BY o_custkey
    )
    SELECT COALESCE(c_custkey, o_custkey) AS cust_id,
           CASE WHEN c_custkey IS NULL THEN 'order_only'
                WHEN o_custkey IS NULL THEN 'customer_only'
                ELSE 'both' END AS presence,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(spend, 0.0) AS spend,
           c_mktsegment
    FROM customer
    FULL OUTER JOIN per_cust ON c_custkey = o_custkey
    """,
)
def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per_cust = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("spend"),
        )
    )
    j = cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "full_outer")
    return j.select(
        F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("cust_id"),
        F.when(F.col("c_custkey").isNull(), "order_only")
        .when(F.col("o_custkey").isNull(), "customer_only")
        .otherwise("both")
        .alias("presence"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("spend"), F.lit(0.0)).alias("spend"),
        "c_mktsegment",
    )


# ---------------------------------------------------------------------------
# Left outer with right-side filter semantics (filter BEFORE the join —
# the classic outer-join-predicate-placement trap, done correctly).
# ---------------------------------------------------------------------------
@query(
    "q_left_outer_join",
    sql="""
    SELECT c_custkey, c_name, o.o_orderkey, o.o_totalprice
    FROM customer
    LEFT OUTER JOIN (
        SELECT * FROM orders WHERE o_orderstatus = 'P'
    ) o ON c_custkey = o.o_custkey
    WHERE c_acctbal < 0
    """,
)
def q_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    pending = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return cust.join(
        pending, cust.c_custkey == pending.o_custkey, "left_outer"
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# Salted join: scatter a hot key across SALT_BUCKETS sub-keys; results
# must equal the plain join (the oracle runs the plain join).
# ---------------------------------------------------------------------------
def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
) -> DataFrame:
    """Skew-safe equi-join: big side gets a deterministic salt derived
    from a high-cardinality sibling column (pmod of a row hash), small
    side is replicated SALT_BUCKETS times; join on (key, salt). Deterministic —
    no rand() — so retries/speculative tasks see identical data."""
    big_salted = big.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(SALT_BUCKETS)),
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1))).alias("__salt")
    small_rep = small.select("*", salts).withColumn(
        "__salt", F.col("__salt").cast("bigint")
    )
    joined = big_salted.join(
        small_rep,
        (big_salted[big_key] == small_rep[small_key])
        & (big_salted["__salt"] == small_rep["__salt"]),
    )
    return joined.drop("__salt")


@query(
    "q_salted_join_orders",
    sql=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           {dsum_sql('o_totalprice')} AS total
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'MACHINERY'
    GROUP BY o_orderpriority
    """,
)
def q_salted_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "MACHINERY"
    )
    joined = salted_join(orders, cust, "o_custkey", "c_custkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("o_totalprice")).alias("total"),
    )


# ---------------------------------------------------------------------------
# first/last (ignorenulls) window functions + explode_outer/posexplode.
# ---------------------------------------------------------------------------
@query(
    "q_first_last_window",
    sql="""
    SELECT DISTINCT o_custkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_order,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_orders
    FROM orders
    WINDOW w AS (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def q_first_last_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_orders"),
    ).distinct()


@query(
    "q_posexplode_tokens",
    sql="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < 20
    )
    SELECT doc_id,
           CAST(i - 1 AS BIGINT) AS pos,
           toks[i] AS tok
    FROM t, LATERAL unnest(range(1, len(toks) + 1)) AS u(i)
    """,
)
def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")


# ---------------------------------------------------------------------------
# Bloom-filter pre-filtered join. The classic 100 TB shuffle reducer:
# before joining a huge fact table against a selective dim, test each
# fact row against a Bloom filter of the dim keys and drop the
# guaranteed non-matches BEFORE the join shuffle. Spark injects this
# automatically in some shapes (spark.sql.optimizer.runtimeFilter.*);
# here the filter is explicit, engine-portable, and oracle-checked.
#
# The bitmap is modeled relationally: a Bloom filter IS the set of
# occupied positions under k hash functions, so "bit set" = semi-join
# against the (tiny, broadcast) distinct-position set, ANDed across the
# k salts. Positions derive from md5 — identical in both engines — so
# the pass-set, the false-positive count, and the post-join aggregate
# are all bit-exact under the oracle. Fact rows are scanned once; the
# k membership tests are k broadcast hash semi-joins (map-side, no
# fact shuffle); only surviving rows reach the real join.
# ---------------------------------------------------------------------------
BLOOM_BITS = 1 << 16
BLOOM_K = 3
BLOOM_NATION = 7  # GERMANY suppliers form the dim side


def _bloom_pos_sql(salt: int, key_expr: str) -> str:
    salted = f"'bf{salt}' || {key_expr}"
    return f"({md5_long_sql(salted)} % {BLOOM_BITS})"


def _bloom_pos(salt: int, key) -> F.Column:
    return md5_long(F.concat(F.lit(f"bf{salt}"), key.cast("string"))) % BLOOM_BITS


@query(
    "q_bloom_join",
    sql=f"""
    WITH dim AS (
        SELECT s_suppkey FROM supplier WHERE s_nationkey = {BLOOM_NATION}
    ),
    {", ".join(
        f'''bits{k} AS (
            SELECT DISTINCT {_bloom_pos_sql(k, 'CAST(s_suppkey AS VARCHAR)')} AS pos
            FROM dim)'''
        for k in range(BLOOM_K)
    )},
    passed AS (
        SELECT l.l_suppkey, l.l_extendedprice
        FROM lineitem l
        WHERE {" AND ".join(
            f"{_bloom_pos_sql(k, 'CAST(l.l_suppkey AS VARCHAR)')} IN "
            f"(SELECT pos FROM bits{k})"
            for k in range(BLOOM_K)
        )}
    ),
    matched AS (
        SELECT p.l_suppkey, p.l_extendedprice
        FROM passed p JOIN dim d ON d.s_suppkey = p.l_suppkey
    )
    SELECT (SELECT COUNT(*) FROM lineitem) AS n_fact,
           (SELECT COUNT(*) FROM passed) AS n_bloom_pass,
           (SELECT COUNT(*) FROM matched) AS n_true_match,
           (SELECT COUNT(*) FROM passed) - (SELECT COUNT(*) FROM matched)
               AS n_false_pos,
           (SELECT {dsum_sql('l_extendedprice')} FROM matched) AS matched_revenue
    """,
)
def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered fact⋈dim join with false-positive accounting."""
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    dim = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == BLOOM_NATION)
        .select("s_suppkey")
    )
    passed = li
    for k in range(BLOOM_K):
        bits = dim.select(_bloom_pos(k, F.col("s_suppkey")).alias("pos")).distinct()
        passed = passed.withColumn("_pos", _bloom_pos(k, F.col("l_suppkey"))).join(
            F.broadcast(bits),
            F.col("_pos") == F.col("pos"),
            "leftsemi",
        ).drop("_pos")
    passed = passed.localCheckpoint(eager=False)
    matched = passed.join(
        F.broadcast(dim), passed.l_suppkey == dim.s_suppkey
    ).localCheckpoint(eager=False)
    n_fact = li.agg(F.count(F.lit(1)).alias("n_fact"))
    n_pass = passed.agg(F.count(F.lit(1)).alias("n_bloom_pass"))
    m_agg = matched.agg(
        F.count(F.lit(1)).alias("n_true_match"),
        dsum(F.col("l_extendedprice")).alias("matched_revenue"),
    )
    return (
        n_fact.crossJoin(F.broadcast(n_pass))
        .crossJoin(F.broadcast(m_agg))
        .select(
            "n_fact",
            "n_bloom_pass",
            "n_true_match",
            (F.col("n_bloom_pass") - F.col("n_true_match")).alias("n_false_pos"),
            "matched_revenue",
        )
    )
