"""Data-quality profiling — the lake-operations layer: per-column null
rates, ranges, cardinalities, and value histograms in a single pass.

A silver-zone lake needs continuous profiling (schema drift, null
explosions, cardinality regressions); the reference's only "quality"
check is the header compare (R8). ``profile()`` computes the standard
profile for any DataFrame in ONE aggregation (no per-column jobs — at
100 TB, one pass vs 30 passes is the difference between feasible and
not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.functions.numeric import (
    davg,
    davg_sql,
    dstddev,
    dstddev_sql,
    dsum,
    dsum_sql,
)
from nyc_landmarks_datalake_spark.registry import query
from nyc_landmarks_datalake_spark.sources.catalog import table

def profile(df: DataFrame) -> DataFrame:
    """One-pass per-column profile → long-format DataFrame
    (column, n_nulls, n_distinct, min_str, max_str).

    Fully lazy: the wide 1-row aggregate is unpivoted with ``stack``
    inside the same plan — no collect/createDataFrame round-trip, so
    building the profile triggers no job until the caller acts."""
    aggs = []
    for f in df.schema.fields:
        c = f.name
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            # min/max on the NATIVE type, stringified after (casting
            # first would make numeric ranges lexicographic: "999">"1499")
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    names = [f.name for f in df.schema.fields]

    def _lit(c: str) -> str:  # escape for a single-quoted SQL literal
        return "'" + c.replace("\\", "\\\\").replace("'", "\\'") + "'"

    def _bt(c: str) -> str:  # escape for a backquoted identifier
        return "`" + c.replace("`", "``") + "`"

    stack = "stack({}, {}) as (column, n_nulls, n_distinct, min_str, max_str)".format(
        len(names),
        ", ".join(
            f"{_lit(c)}, {_bt(c + '__nulls')}, {_bt(c + '__distinct')}, "
            f"{_bt(c + '__min')}, {_bt(c + '__max')}"
            for c in names
        ),
    )
    return df.agg(*aggs).select(F.expr(stack))


# ---------------------------------------------------------------------------
# Oracle-checked profile of the orders table (fully deterministic).
# ---------------------------------------------------------------------------
@query(
    "q_profile_orders",
    sql="""
    SELECT 'o_custkey' AS column,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_str,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
)
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    return profile(orders)


# ---------------------------------------------------------------------------
# Value histogram (deterministic bucketing, not approx).
# ---------------------------------------------------------------------------
@query(
    "q_histogram_totalprice",
    sql=f"""
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           {dsum_sql('o_totalprice')} AS bucket_total
    FROM orders
    GROUP BY 1
    """,
)
def q_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice")).alias("bucket_total"),
        )
    )


# ---------------------------------------------------------------------------
# Z-score anomaly detection: orders whose totalprice sits beyond Z_CUT
# sample-stddevs of their priority group — the standard quality-monitor
# rollup over a silver table. Group stats derive from exact decimal
# sums (functions/numeric.py) so the threshold itself is bit-stable at
# any parallelism; one grouped agg + one broadcast join back.
# ---------------------------------------------------------------------------
Z_CUT = 1.5  # synthetic totalprice is uniform-ish (|z| tops out ~1.8)


@query(
    "q_anomaly_zscore",
    sql=f"""
    WITH stats AS (
        SELECT o_orderpriority AS pri,
               {davg_sql('o_totalprice')} AS mu,
               {dstddev_sql('o_totalprice')} AS sigma
        FROM orders GROUP BY 1
    )
    SELECT o_orderkey, o_orderpriority,
           o_totalprice,
           (o_totalprice - mu) / sigma AS z
    FROM orders JOIN stats ON o_orderpriority = pri
    WHERE abs((o_totalprice - mu) / sigma) > {Z_CUT}
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    stats = orders.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        davg(F.col("o_totalprice")).alias("mu"),
        dstddev(F.col("o_totalprice")).alias("sigma"),
    )
    z = (F.col("o_totalprice") - F.col("mu")) / F.col("sigma")
    return (
        orders.join(F.broadcast(stats), orders.o_orderpriority == stats.pri)
        .filter(F.abs(z) > Z_CUT)
        .select("o_orderkey", "o_orderpriority", "o_totalprice", z.alias("z"))
    )


# ---------------------------------------------------------------------------
# Declarative constraint checking (the Deequ/Great-Expectations tier):
# a suite of named data-quality rules — primary-key uniqueness,
# referential integrity, domain membership, numeric ranges — evaluated
# in bulk, producing one verdict row per rule. Each rule reduces to a
# count of violating rows; the report is a union of tiny aggregates
# over at most one scan per base table plus one anti-join for the FK
# rule, every leg map-side combinable. A CI gate reads `passed`; the
# violation counts make regressions diagnosable without a re-run.
# ---------------------------------------------------------------------------
@query(
    "q_quality_constraints",
    sql="""
    SELECT 'orders_pk_unique' AS check_name,
           (SELECT COUNT(*) FROM orders) AS n_checked,
           (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
               AS n_violations
    UNION ALL
    SELECT 'lineitem_fk_orders',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'orders_totalprice_positive',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
    UNION ALL
    SELECT 'orders_status_domain',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
    UNION ALL
    SELECT 'lineitem_qty_range',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem
            WHERE l_quantity < 1 OR l_quantity > 50)
    UNION ALL
    SELECT 'lineitem_discount_range',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 0.1)
    """,
)
def q_quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-rule constraint report over orders/lineitem."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")

    def verdict(name: str, checked: DataFrame, violations) -> DataFrame:
        return checked.agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(violations, 1).otherwise(0)).alias("n_violations"),
        ).select(F.lit(name).alias("check_name"), "n_checked", "n_violations")

    pk = orders.agg(
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_violations"),
    ).select(F.lit("orders_pk_unique").alias("check_name"), "*")
    fk_orphans = li.join(
        orders.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("n_violations"))
    fk = (
        li.agg(F.count(F.lit(1)).alias("n_checked"))
        .crossJoin(F.broadcast(fk_orphans))
        .select(F.lit("lineitem_fk_orders").alias("check_name"), "*")
    )
    report = pk.unionByName(fk)
    for name, base, bad in (
        ("orders_totalprice_positive", orders, F.col("o_totalprice") <= 0),
        (
            "orders_status_domain",
            orders,
            ~F.col("o_orderstatus").isin("O", "F", "P"),
        ),
        (
            "lineitem_qty_range",
            li,
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
        ),
        (
            "lineitem_discount_range",
            li,
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
        ),
    ):
        report = report.unionByName(verdict(name, base, bad))
    return report


# ---------------------------------------------------------------------------
# Robust statistics: exact lower-median + MAD (median absolute
# deviation) outlier detection per group. Mean/stddev outlier rules
# break on the very rows they're meant to find; median/MAD don't. The
# "lower median" (element at rank (n+1) div 2) is a SELECTED data
# value, not an interpolation — no float arithmetic exists for engines
# to disagree on, so the whole report is oracle-checked bit-exactly.
#
# Scale: each median is one rank-within-group window (single shuffle
# on the group key) + a rank filter — no global sort, no collect; the
# deviation pass re-joins the 5-row median frame by broadcast. Two
# medians = two window passes, the textbook distributed-median shape.
# ---------------------------------------------------------------------------
@query(
    "q_mad_outliers",
    sql="""
    WITH ranked AS (
        SELECT o_orderpriority, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    ),
    med AS (
        SELECT o_orderpriority, o_totalprice AS median_price, n
        FROM ranked WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT o.o_orderpriority, o.o_orderkey,
               ABS(o.o_totalprice - m.median_price) AS d, m.median_price, m.n
        FROM orders o JOIN med m ON m.o_orderpriority = o.o_orderpriority
    ),
    dev_ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY d, o_orderkey) AS rn
        FROM dev
    ),
    mad AS (
        SELECT o_orderpriority, d AS mad_price
        FROM dev_ranked WHERE rn = (n + 1) // 2
    )
    SELECT v.o_orderpriority,
           CAST(MAX(v.n) AS BIGINT) AS n_orders,
           MAX(v.median_price) AS median_price,
           MAX(a.mad_price) AS mad_price,
           CAST(SUM(CASE WHEN v.d > 3 * a.mad_price THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev v JOIN mad a ON a.o_orderpriority = v.o_orderpriority
    GROUP BY 1
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    grp = Window.partitionBy("o_orderpriority")
    w_price = grp.orderBy("o_totalprice", "o_orderkey")
    ranked = orders.select(
        "*",
        F.row_number().over(w_price).alias("rn"),
        F.count(F.lit(1)).over(grp).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select(
        "o_orderpriority", F.col("o_totalprice").alias("median_price"), "n"
    )
    dev = orders.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "o_orderkey",
        F.abs(F.col("o_totalprice") - F.col("median_price")).alias("d"),
        "median_price",
        "n",
    )
    w_dev = grp.orderBy("d", "o_orderkey")
    mad = (
        dev.select("*", F.row_number().over(w_dev).alias("rn"))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("o_orderpriority", F.col("d").alias("mad_price"))
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.max("n").cast("long").alias("n_orders"),
            F.max("median_price").alias("median_price"),
            F.max("mad_price").alias("mad_price"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad_price"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-squared independence scan (source x lang): is the language mix
# stable across corpus sources? The drift detector every multi-source
# training pipeline needs before mixing. Expected counts and cell
# terms derive from integer contingency counts in identical float64
# expressions; the per-source term sum crosses rows, so it goes
# through the decimal-exact dsum path (terms are quotient doubles —
# never an exact 6dp tie — the same argument that makes dsum safe
# everywhere else). dof headroom: row*col totals stay under 2^63
# through petabyte corpora; the contingency table itself is
# (sources x langs)-sized, i.e. tiny, after one map-side-combinable
# count aggregation.
# ---------------------------------------------------------------------------
@query(
    "q_chisq_independence",
    sql=f"""
    WITH obs AS (
        SELECT source, lang, COUNT(*) AS o FROM documents GROUP BY 1, 2
    ),
    rs AS (SELECT source, SUM(o) AS r FROM obs GROUP BY 1),
    cs AS (SELECT lang, SUM(o) AS c FROM obs GROUP BY 1),
    n AS (SELECT SUM(o) AS n FROM obs),
    terms AS (
        SELECT obs.source, obs.o,
               (obs.o - (rs.r * cs.c / (SELECT n FROM n)))
               * (obs.o - (rs.r * cs.c / (SELECT n FROM n)))
               / (rs.r * cs.c / (SELECT n FROM n)) AS term
        FROM obs
        JOIN rs ON rs.source = obs.source
        JOIN cs ON cs.lang = obs.lang
    )
    SELECT source,
           CAST(SUM(o) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           {dsum_sql('term')} AS chi2_contrib
    FROM terms GROUP BY 1
    """,
)
def q_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("source", "lang")
    obs = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("o"))
    rs = obs.groupBy("source").agg(F.sum("o").alias("r"))
    cs = obs.groupBy("lang").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    t = (
        obs.join(F.broadcast(rs), "source")
        .join(F.broadcast(cs), "lang")
        .crossJoin(F.broadcast(n))
    )
    exp = F.col("r") * F.col("c") / F.col("n")
    term = (F.col("o") - exp) * (F.col("o") - exp) / exp
    return (
        t.select("source", "o", term.alias("term"))
        .groupBy("source")
        .agg(
            F.sum("o").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            dsum(F.col("term")).alias("chi2_contrib"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity census — the privacy-tooling pass a dataset release
# pipeline runs before publishing: group by the quasi-identifier tuple
# (nation, market segment, coarse balance bucket) and report how many
# equivalence classes fall below k=5 and how many rows they expose.
# Pure integer counting over two chained hash aggs.
# ---------------------------------------------------------------------------
K_ANON_THRESHOLD = 5


@query(
    "q_k_anonymity",
    sql=f"""
    WITH classes AS (
        SELECT c_nationkey,
               c_mktsegment,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM customer
        GROUP BY 1, 2, 3
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(SUM(CASE WHEN k < {K_ANON_THRESHOLD} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_small_classes,
           CAST(SUM(CASE WHEN k < {K_ANON_THRESHOLD} THEN k ELSE 0 END)
               AS BIGINT) AS rows_at_risk,
           CAST(SUM(k) AS BIGINT) AS n_rows
    FROM classes
    GROUP BY c_nationkey
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation k-anonymity report over quasi-identifier classes."""
    cust = table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
    ).agg(F.count("*").alias("k"))
    small = F.col("k") < K_ANON_THRESHOLD
    return classes.groupBy("c_nationkey").agg(
        F.count("*").alias("n_classes"),
        F.min("k").alias("min_k"),
        F.sum(F.when(small, 1).otherwise(0)).alias("n_small_classes"),
        F.sum(F.when(small, F.col("k")).otherwise(0)).alias("rows_at_risk"),
        F.sum("k").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# l-diversity — k-anonymity's standard companion: a quasi-identifier
# class is safe only if its SENSITIVE attribute takes at least L
# distinct values (a k-anonymous class where everyone shares the same
# sensitive value still leaks it). QI = (nation, balance bucket),
# sensitive = market segment. Two hash aggs, integer-only.
# ---------------------------------------------------------------------------
L_DIVERSITY_THRESHOLD = 3


@query(
    "q_l_diversity",
    sql=f"""
    WITH classes AS (
        SELECT c_nationkey,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l
        FROM customer
        GROUP BY 1, 2
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(l) AS BIGINT) AS min_l,
           CAST(SUM(CASE WHEN l < {L_DIVERSITY_THRESHOLD} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_low_diversity,
           CAST(SUM(CASE WHEN l < {L_DIVERSITY_THRESHOLD} THEN k ELSE 0 END)
               AS BIGINT) AS rows_at_risk,
           CAST(SUM(k) AS BIGINT) AS n_rows
    FROM classes
    GROUP BY c_nationkey
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation l-diversity report: distinct sensitive values
    (market segment) per quasi-identifier class."""
    cust = table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
    ).agg(
        F.count("*").cast("long").alias("k"),
        F.countDistinct("c_mktsegment").cast("long").alias("l"),
    )
    low = F.col("l") < L_DIVERSITY_THRESHOLD
    return classes.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n_classes"),
        F.min("l").cast("long").alias("min_l"),
        F.sum(F.when(low, 1).otherwise(0)).cast("long").alias("n_low_diversity"),
        F.sum(F.when(low, F.col("k")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.sum("k").cast("long").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Selection-parity audit (the four-fifths rule): per language group,
# the rate at which a deterministic curation filter selects documents,
# and each group's parity ratio vs the most-selected group. A ratio
# under 800000 ppm (80%) flags disparate impact of the filter. All
# fixed-point integer arithmetic; the max-rate reference rides a
# window over the <=n_langs-row aggregate.
# ---------------------------------------------------------------------------
@query(
    "q_selection_parity",
    sql="""
    WITH rates AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN n_chars BETWEEN 150 AND 400
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
               CAST(1000000 * SUM(CASE WHEN n_chars BETWEEN 150 AND 400
                                  THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT)
                   AS rate_ppm
        FROM documents
        GROUP BY lang
    )
    SELECT lang, n_docs, n_selected, rate_ppm,
           CAST(1000000 * rate_ppm // MAX(rate_ppm) OVER () AS BIGINT)
               AS parity_ppm,
           (1000000 * rate_ppm // MAX(rate_ppm) OVER ()) < 800000
               AS below_four_fifths
    FROM rates
    """,
)
def q_selection_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language selection rates + four-fifths-rule parity flags."""
    docs = table(spark, sf_dir, "documents")
    sel = F.when(F.col("n_chars").between(150, 400), 1).otherwise(0)
    rates = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(sel).alias("n_selected"),
        F.expr(
            "CAST(1000000 * sum(CASE WHEN n_chars BETWEEN 150 AND 400"
            " THEN 1 ELSE 0 END) div count(*) AS BIGINT)"
        ).alias("rate_ppm"),
    )
    # parity numerator precomputed so the windowed integer division is
    # one exact `div` over the <=n_langs-row aggregate
    return rates.select(
        "lang",
        "n_docs",
        "n_selected",
        "rate_ppm",
        F.expr("1000000 * rate_ppm").alias("__num"),
    ).withColumn(
        "parity_ppm",
        F.expr("CAST(__num div (max(rate_ppm) OVER ()) AS BIGINT)"),
    ).withColumn(
        "below_four_fifths", F.col("parity_ppm") < 800000
    ).drop("__num")


# ---------------------------------------------------------------------------
# Benford first-significant-digit census — the classic forensic /
# data-quality screen for fabricated or truncated numeric columns.
# The digit is extracted with integer/string ops (no log), and the
# fixed-point ppm share makes the whole report integer-exact.
# ---------------------------------------------------------------------------
@query(
    "q_benford_digits",
    sql="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders
        WHERE o_totalprice >= 1
    )
    SELECT digit,
           COUNT(*) AS n,
           CAST(1000000 * COUNT(*) //
                (SELECT COUNT(*) FROM d) AS BIGINT) AS share_ppm
    FROM d
    GROUP BY digit
    """,
)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("long")
    d = orders.select(digit.alias("digit"))
    total = d.agg(F.count(F.lit(1)).alias("__total"))
    return (
        d.groupBy("digit")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.expr("CAST(1000000 * n div __total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )
