"""Evaluation statistics: inter-rater agreement (Cohen's kappa) and
exact Spearman rank correlation — the two classic "are these two
signals telling me the same thing" measures a curation pipeline runs
before trusting a filter.

Both are integer-exact end to end: the 2x2 agreement table and the
rank vectors are integer counts, and the final coefficients are ppm
integers computed with one wide (DECIMAL(38,0) Spark / HUGEINT DuckDB)
division — truncation toward zero, verified identical across engines,
including for negative coefficients.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.operators.textops import STOPWORDS
from nyc_landmarks_datalake_spark.registry import query
from nyc_landmarks_datalake_spark.sources.catalog import compute_table, table

_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)

#: rater A: stopword density >= 1/12 (cross-multiplied, no float)
_RATER_A = (
    f"size(filter(toks, w -> w IN ({_STOP_IN}))) * 12 >= size(toks)"
)
_RATER_A_SQL = (
    f"len(list_filter(toks, w -> w IN ({_STOP_IN}))) * 12 >= len(toks)"
)
#: rater B: type-token ratio >= 1/2
_RATER_B = "size(array_distinct(toks)) * 2 >= size(toks)"
_RATER_B_SQL = "len(list_distinct(toks)) * 2 >= len(toks)"

#: kappa over (n, bg, oa, ob, nt) BIGINT columns — both-good, only-A,
#: only-B, neither; po = (bg+nt)/n, pe from the marginals; ppm with a
#: guarded wide division (pe = 1 -> kappa defined as 0)
_KAPPA = """
CASE WHEN CAST(n AS DECIMAL(38,0)) * n
          - (CAST(bg + oa AS DECIMAL(38,0)) * (bg + ob)
             + CAST(nt + ob AS DECIMAL(38,0)) * (nt + oa)) = 0
     THEN CAST(0 AS BIGINT)
     ELSE CAST(
       (CAST(n AS DECIMAL(38,0)) * (bg + nt)
        - (CAST(bg + oa AS DECIMAL(38,0)) * (bg + ob)
           + CAST(nt + ob AS DECIMAL(38,0)) * (nt + oa))) * 1000000
       div (CAST(n AS DECIMAL(38,0)) * n
            - (CAST(bg + oa AS DECIMAL(38,0)) * (bg + ob)
               + CAST(nt + ob AS DECIMAL(38,0)) * (nt + oa)))
       AS BIGINT)
END
"""
_KAPPA_SQL = """
CASE WHEN CAST(n AS HUGEINT) * n
          - (CAST(bg + oa AS HUGEINT) * (bg + ob)
             + CAST(nt + ob AS HUGEINT) * (nt + oa)) = 0
     THEN CAST(0 AS BIGINT)
     ELSE CAST(
       (CAST(n AS HUGEINT) * (bg + nt)
        - (CAST(bg + oa AS HUGEINT) * (bg + ob)
           + CAST(nt + ob AS HUGEINT) * (nt + oa))) * 1000000
       // (CAST(n AS HUGEINT) * n
           - (CAST(bg + oa AS HUGEINT) * (bg + ob)
              + CAST(nt + ob AS HUGEINT) * (nt + oa)))
       AS BIGINT)
END
"""

_KAPPA_ORACLE = f"""
WITH rated AS (
    SELECT lang,
           {_RATER_A_SQL} AS ra,
           {_RATER_B_SQL} AS rb
    FROM (
        SELECT lang,
               list_filter(string_split(text, ' '), w -> w != '') AS toks
        FROM documents
    )
),
cm AS (
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS bg,
           CAST(SUM(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT)
               AS oa,
           CAST(SUM(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS BIGINT)
               AS ob,
           CAST(SUM(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END)
                AS BIGINT) AS nt
    FROM rated GROUP BY 1
)
SELECT lang, n AS n_docs, bg AS both_good, oa AS only_a, ob AS only_b,
       nt AS neither, {_KAPPA_SQL} AS kappa_ppm
FROM cm
"""


@query("q_rater_agreement_kappa", sql=_KAPPA_ORACLE)
def q_rater_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa per language between two independent quality
    raters (stopword density vs type-token ratio) — the chance-
    corrected agreement a pipeline checks before composing filters.
    One corpus pass, a 2x2 census per lang, one wide ppm division."""
    docs = compute_table(spark, sf_dir, "documents")
    rated = docs.select(
        "lang",
        F.expr("filter(split(text, ' '), w -> w != '')").alias("toks"),
    ).select(
        "lang",
        F.expr(_RATER_A).alias("ra"),
        F.expr(_RATER_B).alias("rb"),
    )
    cm = rated.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("ra") & F.col("rb")).cast("long"))
        .cast("long")
        .alias("bg"),
        F.sum((F.col("ra") & ~F.col("rb")).cast("long"))
        .cast("long")
        .alias("oa"),
        F.sum((~F.col("ra") & F.col("rb")).cast("long"))
        .cast("long")
        .alias("ob"),
        F.sum((~F.col("ra") & ~F.col("rb")).cast("long"))
        .cast("long")
        .alias("nt"),
    )
    return cm.select(
        "lang",
        F.col("n").alias("n_docs"),
        F.col("bg").alias("both_good"),
        F.col("oa").alias("only_a"),
        F.col("ob").alias("only_b"),
        F.col("nt").alias("neither"),
        F.expr(_KAPPA).alias("kappa_ppm"),
    )


_KS_ORACLE = """
WITH vals AS (
    SELECT o_totalprice AS v,
           CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS BIGINT)
               AS in_a
    FROM orders
),
pv AS (
    SELECT v, CAST(SUM(in_a) AS BIGINT) AS c_a,
           CAST(SUM(1 - in_a) AS BIGINT) AS c_b
    FROM vals GROUP BY 1
),
cum AS (
    SELECT v,
           SUM(c_a) OVER (ORDER BY v) AS cum_a,
           SUM(c_b) OVER (ORDER BY v) AS cum_b,
           SUM(c_a) OVER () AS n_a,
           SUM(c_b) OVER () AS n_b
    FROM pv
),
diffs AS (
    SELECT v, n_a, n_b,
           abs(CAST(cum_a AS BIGINT) * n_b - CAST(cum_b AS BIGINT) * n_a)
               AS d_num
    FROM cum
),
mx AS (SELECT MAX(d_num) AS d_max FROM diffs)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(CAST(d_max AS HUGEINT) * 1000000
            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS ks_ppm,
       MIN(v) AS at_value
FROM diffs, mx
WHERE d_num = d_max
GROUP BY 1, 2, 3
"""


@query("q_ks_two_sample", sql=_KS_ORACLE)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    order-value distributions of finished vs non-finished orders —
    the distribution-drift test chi-square (categorical) can't give
    for a continuous metric. D = max_v |F_a(v) - F_b(v)| computed as
    the integer max of |cum_a*n_b - cum_b*n_a| over per-value
    cumulative counts (one wide ppm division at the end), plus the
    smallest value attaining it.

    Scale posture: per-value counts are one hash agg; the two ECDFs
    are the repo's distributed two-pass running sum over the global
    value order (range partition + P-row offset broadcast — never a
    SinglePartition data window); the argmax attaches as a one-row
    broadcast."""
    from nyc_landmarks_datalake_spark.operators.windows import (
        distributed_running_sum,
    )

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderstatus") == "F", 1)
        .otherwise(0)
        .cast("long")
        .alias("in_a"),
    )
    pv = (
        orders.groupBy("v")
        .agg(
            F.sum("in_a").cast("long").alias("c_a"),
            F.sum(1 - F.col("in_a")).cast("long").alias("c_b"),
        )
        .localCheckpoint(eager=False)  # two cumsum passes share it
    )
    cum = distributed_running_sum(pv, ["v"], "c_a", out_col="cum_a")
    cum = distributed_running_sum(cum, ["v"], "c_b", out_col="cum_b")
    tot = pv.agg(
        F.sum("c_a").cast("long").alias("n_a"),
        F.sum("c_b").cast("long").alias("n_b"),
    )
    diffs = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        "n_a",
        "n_b",
        F.expr("abs(cum_a * n_b - cum_b * n_a)").alias("d_num"),
    ).localCheckpoint(eager=False)  # max pass + argmin pass share it
    mx = diffs.agg(F.max("d_num").alias("d_max"))
    return (
        diffs.crossJoin(F.broadcast(mx))
        .filter(F.col("d_num") == F.col("d_max"))
        .groupBy("n_a", "n_b")
        .agg(
            F.expr(
                "CAST(CAST(MAX(d_max) AS DECIMAL(38,0)) * 1000000"
                " div (CAST(MAX(n_a) AS DECIMAL(38,0)) * MAX(n_b))"
                " AS BIGINT)"
            ).alias("ks_ppm"),
            F.min("v").alias("at_value"),
        )
        .select("n_a", "n_b", "ks_ppm", "at_value")
    )


_SPEARMAN_ORACLE = """
WITH spend AS (
    SELECT c.c_custkey, c.c_acctbal,
           COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(30,6))), 0)
               AS total_spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
ranked AS (
    SELECT ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) AS r_bal,
           ROW_NUMBER() OVER (ORDER BY total_spend, c_custkey) AS r_spend
    FROM spend
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(r_bal - r_spend AS HUGEINT)
                * (r_bal - r_spend)) AS BIGINT) AS sum_d2,
       CAST(CASE WHEN COUNT(*) < 2 THEN 0 ELSE
         (CAST(COUNT(*) AS HUGEINT)
          * (CAST(COUNT(*) AS HUGEINT) * COUNT(*) - 1)
          - 6 * SUM(CAST(r_bal - r_spend AS HUGEINT) * (r_bal - r_spend)))
         * 1000000
         // (CAST(COUNT(*) AS HUGEINT)
             * (CAST(COUNT(*) AS HUGEINT) * COUNT(*) - 1))
       END AS BIGINT) AS rho_ppm
FROM ranked
"""


@query("q_spearman_corr", sql=_SPEARMAN_ORACLE)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation between customer account balance
    and lifetime order spend: rho = 1 - 6*sum(d^2)/(n(n^2-1)) as an
    integer ppm (ties broken deterministically by custkey, identical in
    both engines; spend summed in exact DECIMAL).

    Scale posture: ranks come from the repo's distributed two-pass
    global row_number (range partition + P-row offset broadcast —
    never a SinglePartition window over the data); the d^2 sum is one
    hash agg."""
    from nyc_landmarks_datalake_spark.operators.windows import (
        distributed_row_number,
    )

    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            # DECIMAL-internal sum (the repo-wide float strategy): the
            # rank ORDER must be exact — a double sum is association-
            # order dependent and flips near-tie ranks across engines
            # (observed at native sf1). Never emitted, ordering only.
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(30,6)")),
                F.lit(0).cast("decimal(30,6)"),
            ).alias("total_spend")
        )
        .localCheckpoint(eager=False)  # two rank passes share it
    )
    r1 = distributed_row_number(
        spend, ["c_acctbal", "c_custkey"], rn_col="r_bal"
    ).select("c_custkey", "r_bal")
    r2 = distributed_row_number(
        spend, ["total_spend", "c_custkey"], rn_col="r_spend"
    ).select("c_custkey", "r_spend")
    ranked = r1.join(r2, "c_custkey")
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.expr(
            "CAST(SUM(CAST(r_bal - r_spend AS DECIMAL(38,0))"
            " * (r_bal - r_spend)) AS BIGINT)"
        ).alias("sum_d2"),
        F.expr(
            "CAST(CASE WHEN COUNT(*) < 2 THEN 0 ELSE"
            " (CAST(COUNT(*) AS DECIMAL(38,0))"
            "  * (CAST(COUNT(*) AS DECIMAL(38,0)) * COUNT(*) - 1)"
            "  - 6 * SUM(CAST(r_bal - r_spend AS DECIMAL(38,0))"
            "        * (r_bal - r_spend))) * 1000000"
            " div (CAST(COUNT(*) AS DECIMAL(38,0))"
            "      * (CAST(COUNT(*) AS DECIMAL(38,0)) * COUNT(*) - 1))"
            " END AS BIGINT)"
        ).alias("rho_ppm"),
    )


# ---------------------------------------------------------------------------
# PSI (Population Stability Index) drift monitor — the industry-standard
# score-distribution drift statistic next to KS (continuous) and CUSUM
# (sequential): PSI = Σ_bins (p_i - q_i) · ln(p_i / q_i) over FIXED value
# bins, reference window vs current window, with +1 Laplace smoothing
# AND a floor of 1 ppm on the smoothed fractions: above ~1e6 rows per
# window the smoothed (c+1)/(n+B) truncates to 0 ppm for an empty bin,
# which would divide by zero inside the ln chain (Spark ANSI raises,
# DuckDB // 0 returns NULL and SUM silently drops the bin) — the
# GREATEST(…, 1) clamp keeps both engines finite and identical. Alarm
# threshold 0.2 (the conventional "significant shift" cut).
#
# Exactness: ln() is transcendental — float ln is not guaranteed
# bit-identical across engines (the repo's BM25/TF-IDF rule). PSI here is
# computed with a FIXED-POINT natural log evaluated by the identical
# integer formula on both sides: per bin, the ratio r = hi/lo (ppm) is
# range-reduced by k = floor(log2(r)) (via length(bin(x)) — both engines
# agree on the bit length of a BIGINT), the mantissa m ∈ [1, 2) goes
# through the atanh series ln(m) = 2(z + z³/3 + z⁵/5 + z⁷/7 + z⁹/9) with
# z = (m-1)/(m+1) ≤ 1/3 in 1e-6 fixed point, and ln(r) = k·ln2 + ln(m).
# Every step is BIGINT multiply + truncating integer division — the two
# engines produce the SAME psi_e12 by construction (≈6 significant
# digits vs the float PSI; the float value is never computed). Since
# (p-q) and ln(p/q) always share sign, each term is |p-q|·ln(hi/lo) ≥ 0.
#
# Scale posture: two corpus passes (one 2-value min/max agg broadcast
# back to derive the window split, one hash agg onto (event_type, bin,
# window) — cardinality = types × B × 2, independent of data size); the
# entire fixed-point trajectory runs on that tiny census. The window
# split is derived from the data (midpoint of the observed ts range) so
# the query is scale- and replication-invariant.
# ---------------------------------------------------------------------------
#: events.value spans ~0..560 at sf0.1 and ~0..985 at sf10 (median ~35
#: at every scale) — 20 bins × width 50 cover 0..1000 so the monitor
#: sees the whole value domain at native scale instead of dumping the
#: upper three-quarters into a catch-all last bin (r13 ADVICE).
PSI_BINS = 20
PSI_BIN_WIDTH = 50
_LN2_PPM = 693_147
#: psi_e12 > 0.2 * 1e12 → the conventional "significant drift" alarm
PSI_ALARM_E12 = 200_000_000_000
#: the (div, shl) tokens of each engine for the fixed-point chains:
#: truncating integer division and a format string for ``1 << k``
_SPARK_INT = ("div", "shiftleft(CAST(1 AS BIGINT), {k})")
_DUCK_INT = ("//", "(CAST(1 AS BIGINT) << {k})")


def psi_frac_exprs(div: str) -> list[tuple[str, str]]:
    """Laplace-smoothed window fractions in ppm, floored at 1 ppm, from
    a census row (ref_c, cur_c, ref_n, cur_n); ``div`` is the truncating
    integer-division token (Spark ``div`` / DuckDB ``//``). Shared by
    the Spark plans and the DuckDB oracles of the drift family so the
    clamp semantics cannot diverge. The floor matters from ~1e6
    rows/window upward: (0+1)·1e6 // (n+B) == 0 there, and a 0 fraction
    reaches the ln chain as a division by zero."""
    return [
        (
            "p_ppm",
            f"GREATEST(((ref_c + 1) * 1000000) {div} (ref_n + {PSI_BINS}), 1)",
        ),
        (
            "q_ppm",
            f"GREATEST(((cur_c + 1) * 1000000) {div} (cur_n + {PSI_BINS}), 1)",
        ),
    ]


def _lnfp_steps(
    prefix: str, num: str, den: str, div: str, shl: str
) -> list[tuple[str, str]]:
    """The one fixed-point ln chain: signed ln(num/den) (ppm in, ppm
    out) as a (name, expression) chain ending in ``{prefix}_ln`` =
    sign(num-den) · ln(max/min). Range reduction by the bit length of
    r = max/min, then the atanh series of the mantissa (see the PSI
    block comment); ``div`` is the truncating integer division token
    (Spark ``div`` / DuckDB ``//``), ``shl`` a format string for
    ``1 << k``. Used verbatim by both engines for the drift family and
    for link prediction's Adamic-Adar weights."""
    p = prefix
    return [
        (f"{p}_hi", f"GREATEST({num}, {den})"),
        (f"{p}_lo", f"LEAST({num}, {den})"),
        (f"{p}_sg", f"CASE WHEN {num} >= {den} THEN 1 ELSE -1 END"),
        (f"{p}_r", f"({p}_hi * 1000000) {div} {p}_lo"),
        (f"{p}_k", f"length(bin({p}_r {div} 1000000)) - 1"),
        (f"{p}_m", f"{p}_r {div} {shl.format(k=f'{p}_k')}"),
        (f"{p}_z", f"(({p}_m - 1000000) * 1000000) {div} ({p}_m + 1000000)"),
        (f"{p}_z2", f"({p}_z * {p}_z) {div} 1000000"),
        (f"{p}_z3", f"({p}_z2 * {p}_z) {div} 1000000"),
        (f"{p}_z4", f"({p}_z2 * {p}_z2) {div} 1000000"),
        (f"{p}_z5", f"({p}_z4 * {p}_z) {div} 1000000"),
        (f"{p}_z7", f"({p}_z4 * {p}_z3) {div} 1000000"),
        (
            f"{p}_z9",
            f"(({p}_z4 * {p}_z4) {div} 1000000 * {p}_z) {div} 1000000",
        ),
        (
            f"{p}_ln",
            f"{p}_sg * ({p}_k * {_LN2_PPM}"
            f" + 2 * ({p}_z + {p}_z3 {div} 3 + {p}_z5 {div} 5"
            f" + {p}_z7 {div} 7 + {p}_z9 {div} 9))",
        ),
    ]


def _psi_trajectory(div: str, shl: str) -> list[tuple[str, str]]:
    """(p_ppm, q_ppm) → the per-bin PSI contribution ``contrib_e12`` =
    (p - q) · ln(p/q), which is |p - q| · ln(hi/lo) (e12 fixed point)."""
    steps = _lnfp_steps("pq", "p_ppm", "q_ppm", div, shl)
    steps.append(("contrib_e12", "(p_ppm - q_ppm) * pq_ln"))
    return steps


def _drift_oracle(prefix: str, steps: list[tuple[str, str]], aggs: str) -> str:
    """DuckDB mirror of :func:`_drift_frame`: the census CTEs, one CTE
    per fraction and ``steps`` entry (named ``{prefix}_{name}``; one CTE
    per step keeps the reference factor 1, no inlining blowup), then
    the per-type ``aggs`` next to the window sizes."""
    step_ctes = []
    prev = "psi_frac"
    for name, expr in psi_frac_exprs("//") + steps:
        step_ctes.append(
            f"{prefix}_{name} AS (SELECT *, {expr} AS {name} FROM {prev})"
        )
        prev = f"{prefix}_{name}"
    joined = ",\n".join(step_ctes)
    return f"""
    WITH psi_span AS (
        SELECT CAST(MIN(epoch_us(ts)) AS BIGINT) AS t0,
               CAST(MAX(epoch_us(ts)) AS BIGINT) AS t1
        FROM events
    ),
    psi_binned AS (
        SELECT event_type,
               LEAST({PSI_BINS - 1}, GREATEST(0,
                   CAST(FLOOR(value / {PSI_BIN_WIDTH}.0) AS INT))) AS bin,
               CAST(epoch_us(ts) AS BIGINT) * 2 < t0 + t1 AS is_ref
        FROM events, psi_span
    ),
    psi_cnt0 AS (
        SELECT event_type, bin,
               CAST(COALESCE(SUM(CASE WHEN is_ref THEN 1 END), 0) AS BIGINT)
                   AS ref_c,
               CAST(COALESCE(SUM(CASE WHEN NOT is_ref THEN 1 END), 0)
                    AS BIGINT) AS cur_c
        FROM psi_binned GROUP BY 1, 2
    ),
    psi_spine AS (
        SELECT event_type, b.bin
        FROM (SELECT DISTINCT event_type FROM psi_cnt0),
             (SELECT unnest(range({PSI_BINS})) AS bin) b
    ),
    psi_cnt AS (
        SELECT s.event_type, s.bin,
               COALESCE(c.ref_c, 0) AS ref_c, COALESCE(c.cur_c, 0) AS cur_c
        FROM psi_spine s LEFT JOIN psi_cnt0 c
          ON c.event_type = s.event_type AND c.bin = s.bin
    ),
    psi_tot AS (
        SELECT event_type, CAST(SUM(ref_c) AS BIGINT) AS ref_n,
               CAST(SUM(cur_c) AS BIGINT) AS cur_n
        FROM psi_cnt GROUP BY 1
    ),
    psi_frac AS (
        SELECT c.event_type, c.bin, c.ref_c, c.cur_c, t.ref_n, t.cur_n
        FROM psi_cnt c JOIN psi_tot t USING (event_type)
    ),
    {joined}
    SELECT event_type,
           MAX(ref_n) AS n_ref, MAX(cur_n) AS n_cur,
           {aggs}
    FROM {prev}
    GROUP BY event_type
    """


def _drift_frame(
    spark: SparkSession,
    sf_dir: str,
    steps: list[tuple[str, str]],
    *aggs: Column,
) -> DataFrame:
    """The drift family's Spark plan: per event type, value-bin counts
    of the reference (first) and current (second) half of the observed
    event window, every bin present; the smoothed fractions and
    ``steps`` as columns; then ``aggs`` per type next to the window
    sizes (n_ref, n_cur)."""
    ev = table(spark, sf_dir, "events").select("event_type", "ts", "value")
    span = ev.agg(
        F.expr("CAST(MIN(unix_micros(ts)) AS BIGINT)").alias("t0"),
        F.expr("CAST(MAX(unix_micros(ts)) AS BIGINT)").alias("t1"),
    )
    binned = ev.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.expr(
            f"LEAST({PSI_BINS - 1}, GREATEST(0,"
            f" CAST(FLOOR(value / {PSI_BIN_WIDTH}.0) AS INT)))"
        ).alias("bin"),
        F.expr("CAST(unix_micros(ts) AS BIGINT) * 2 < t0 + t1").alias("is_ref"),
    )
    cnt0 = binned.groupBy("event_type", "bin").agg(
        F.expr(
            "CAST(COALESCE(SUM(CASE WHEN is_ref THEN 1 END), 0) AS BIGINT)"
        ).alias("ref_c"),
        F.expr(
            "CAST(COALESCE(SUM(CASE WHEN NOT is_ref THEN 1 END), 0)"
            " AS BIGINT)"
        ).alias("cur_c"),
    ).localCheckpoint(eager=False)  # types x B census; spine + counts
    # branch from it — without the cut the corpus scans once per branch
    spine = (
        cnt0.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.expr(f"sequence(0, {PSI_BINS - 1})")).alias("bin"),
        )
    )
    cnt = spine.join(cnt0, ["event_type", "bin"], "left").select(
        "event_type",
        "bin",
        F.coalesce("ref_c", F.lit(0)).alias("ref_c"),
        F.coalesce("cur_c", F.lit(0)).alias("cur_c"),
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("ref_c").cast("long").alias("ref_n"),
        F.sum("cur_c").cast("long").alias("cur_n"),
    )
    out = cnt.join(F.broadcast(tot), "event_type")
    for name, expr in psi_frac_exprs("div") + steps:
        out = out.withColumn(name, F.expr(expr))
    return out.groupBy("event_type").agg(
        F.max("ref_n").alias("n_ref"), F.max("cur_n").alias("n_cur"), *aggs
    )


@query(
    "q_psi_drift",
    sql=_drift_oracle(
        "psi",
        _psi_trajectory(*_DUCK_INT),
        f"""CAST(SUM(contrib_e12) AS BIGINT) AS psi_e12,
           CAST(SUM(contrib_e12) AS BIGINT) > {PSI_ALARM_E12} AS drift_alarm""",
    ),
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type PSI between the first and second half of the
    observed event window, over fixed value bins — integer-exact
    (fixed-point ln, identical trajectory both engines)."""
    return _drift_frame(
        spark,
        sf_dir,
        _psi_trajectory(*_SPARK_INT),
        F.sum("contrib_e12").cast("long").alias("psi_e12"),
        (F.sum("contrib_e12").cast("long") > F.lit(PSI_ALARM_E12)).alias(
            "drift_alarm"
        ),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence drift — the bounded, symmetric companion to
# PSI over the SAME fixed-bin census: JS(p, q) = (KL(p||m) + KL(q||m))/2
# with m = (p+q)/2, always in [0, ln 2]. Where PSI's terms pair
# (p-q) with ln(p/q) (always same sign), the KL terms p·ln(2p/(p+q))
# are individually signed — the signed ln chain (_lnfp_steps) carries
# the sign from the num/den comparison. Every step stays BIGINT
# multiply + truncating division, identical text in both engines.
#
# Scale posture identical to q_psi_drift: the corpus contributes two
# passes; the two ln chains and the divergence sum run on the
# types × bins census.
# ---------------------------------------------------------------------------
def _js_trajectory(div: str, shl: str) -> list[tuple[str, str]]:
    """(p_ppm, q_ppm) → per-bin 2·JS contribution (e12 fixed point)."""
    steps = _lnfp_steps("jp", "2 * p_ppm", "p_ppm + q_ppm", div, shl)
    steps += _lnfp_steps("jq", "2 * q_ppm", "p_ppm + q_ppm", div, shl)
    steps.append(("contrib2_e12", "p_ppm * jp_ln + q_ppm * jq_ln"))
    return steps


@query(
    "q_js_drift",
    sql=_drift_oracle(
        "js",
        _js_trajectory(*_DUCK_INT),
        "CAST(SUM(contrib2_e12) // 2 AS BIGINT) AS js_e12",
    ),
)
def q_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Jensen-Shannon divergence between the first and
    second half of the observed event window over the same fixed-bin
    census as q_psi_drift — signed fixed-point ln chains, integer-exact
    cross-engine, bounded by ln 2."""
    return _drift_frame(
        spark,
        sf_dir,
        _js_trajectory(*_SPARK_INT),
        F.expr("CAST(SUM(contrib2_e12) div 2 AS BIGINT)").alias("js_e12"),
    )


# ---------------------------------------------------------------------------
# Kullback-Leibler drift — the directional member completing the drift
# family (PSI symmetric-unbounded, JS symmetric-bounded, KL directional
# -unbounded). Both directions ship: kl_cur_ref_e12 = Σ q·ln(q/p) is
# the conventional "how surprised is the reference model by current
# data" monitor; kl_ref_cur_e12 = Σ p·ln(p/q) the reverse. Same
# Laplace-smoothed 1-ppm-floored fractions (psi_frac_exprs — the
# identical clamp text as PSI/JS, sf10-verified), same SIGNED
# fixed-point ln chains (_lnfp_steps), so both engines compute
# bit-identical e12 values. Note PSI ≡ kl_cur_ref + kl_ref_cur by
# definition — pinned by a test, a three-way internal consistency
# check none of the operators can pass alone if any chain drifts.
#
# Scale posture identical to q_psi_drift / q_js_drift: two corpus
# passes into the types × bins census; everything after runs on
# types × PSI_BINS rows.
# ---------------------------------------------------------------------------
def _kl_trajectory(div: str, shl: str) -> list[tuple[str, str]]:
    """(p_ppm, q_ppm) → per-bin signed KL contributions in both
    directions (e12 fixed point)."""
    steps = _lnfp_steps("kf", "q_ppm", "p_ppm", div, shl)
    steps += _lnfp_steps("kr", "p_ppm", "q_ppm", div, shl)
    steps.append(("kl_fwd_e12", "q_ppm * kf_ln"))
    steps.append(("kl_rev_e12", "p_ppm * kr_ln"))
    return steps


@query(
    "q_kl_drift",
    sql=_drift_oracle(
        "kl",
        _kl_trajectory(*_DUCK_INT),
        """CAST(SUM(kl_fwd_e12) AS BIGINT) AS kl_cur_ref_e12,
           CAST(SUM(kl_rev_e12) AS BIGINT) AS kl_ref_cur_e12""",
    ),
)
def q_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type directional Kullback-Leibler divergences between
    the first and second half of the observed event window over the
    same fixed-bin census as q_psi_drift: kl_cur_ref_e12 = KL(cur‖ref)
    (drift surprise), kl_ref_cur_e12 the reverse — signed fixed-point
    ln chains, integer-exact cross-engine; their sum is PSI by
    definition (pinned in tests)."""
    return _drift_frame(
        spark,
        sf_dir,
        _kl_trajectory(*_SPARK_INT),
        F.expr("CAST(SUM(kl_fwd_e12) AS BIGINT)").alias("kl_cur_ref_e12"),
        F.expr("CAST(SUM(kl_rev_e12) AS BIGINT)").alias("kl_ref_cur_e12"),
    )
