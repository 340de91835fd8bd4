"""Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter 1969).

The decision layer on top of the repo's FastSS deletion-neighborhood
blocking (operators/fuzzyjoin.py): candidate pairs come from the
edit-distance-1 name block, each pair is reduced to a per-field
agreement vector gamma = (name, segment, nation, acctbal), per-field
m/u probabilities (P(agree | match) / P(agree | non-match)) are
estimated from a deterministic md5-sampled labeled subset, and every
candidate is classified match / possible / non_match by comparing its
likelihood ratio against integer thresholds.

Linkage target: records A = customer; records B = a deterministic
"dirty" re-keying of the same file (the FEBRL-style benchmark shape) —
each field is corrupted with md5-derived 25% probability (name: one
character substituted with 'x' at an md5-derived position; segment:
replaced with 'UNKNOWN'; acctbal: shifted by +1000.0; nation: never
corrupted). Everything about B is a pure function of the row, so both
engines build bit-identical inputs.

Exactness discipline: the classic formulation sums per-field log-odds
weights; summing logs IS multiplying likelihood ratios, so we keep the
exact rational product instead of a cross-engine float log — per-field
ratios are clamped Laplace ppm integers (LEAST(999999, GREATEST(1,
(agree+1)*1e6 div (n+2)))), the 4-field numerator/denominator products
stay within DECIMAL(38,0) Spark-side / HUGEINT DuckDB-side (both
truncate toward zero — the wordpiece.py-verified pairing), and the
match / possible / non_match decision is two integer comparisons
(odds >= 100, odds <= 1/10). No float appears anywhere in the
trajectory.

Scale posture (100 TB): blocking is a map-side explode on the KEY
relation (~(L+1)x on names, not the corpus); the candidate join
co-partitions on the variant hash and never goes all-pairs; attribute
attachment is two key-equi joins on id; m/u estimation is ONE
single-row aggregate broadcast back; and the per-pair score factorizes
exactly through the 2^F-row gamma-pattern census, so the wide decimal
arithmetic happens on <= 16 rows regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.functions.bcast import bcast_if
from nyc_landmarks_datalake_spark.functions.hashing import md5_long_sql
from nyc_landmarks_datalake_spark.operators.fuzzyjoin import (
    _VARIANTS,
    _VARIANTS_SQL,
)
from nyc_landmarks_datalake_spark.registry import query
from nyc_landmarks_datalake_spark.sources.catalog import table

#: per-field corruption probability of the dirty copy, in percent
CORRUPT_PCT = 25
#: labeled subset = pairs with md5(ida:idb) % LABEL_MOD < LABEL_TAKE
LABEL_MOD = 10
LABEL_TAKE = 3
#: classification thresholds on the likelihood-ratio product:
#: match when odds >= T_MATCH; non_match when odds <= 1 / T_NONMATCH_INV
T_MATCH = 100
T_NONMATCH_INV = 10
#: emitted odds_ppm is capped at 1e15 (odds 1e9) so the one wide
#: division can never overflow BIGINT even when every u clamps to 1
ODDS_CAP_PPM = 1_000_000_000_000_000

#: row gate for the forced gamma attribute broadcasts: ~64 B/row framed
#: (id + name + seg + nat + bal) keeps the build side near 500 MB —
#: wider rows than the default bcast gate assumes, hence the lower cap
_GAMMA_BCAST_ROWS = 8_000_000


# -- the dirty copy B (Spark dialect) ---------------------------------------
def _r_spark(tag: str) -> str:
    return (
        "CAST(conv(substring(md5(concat(CAST(id AS STRING), "
        f"':{tag}')), 1, 15), 16, 10) AS BIGINT)"
    )


_CORRUPT_SPARK = [
    "id",
    f"""CASE WHEN r_nm % 100 < {CORRUPT_PCT} THEN
          concat(substring(name, 1,
                           CAST((r_nm div 100) % length(name) AS INT)),
                 'x',
                 substring(name,
                           CAST((r_nm div 100) % length(name) + 2 AS INT),
                           length(name)))
        ELSE name END AS name""",
    f"CASE WHEN r_sg % 100 < {CORRUPT_PCT} THEN 'UNKNOWN' ELSE seg END"
    " AS seg",
    "nat",
    f"CASE WHEN r_bl % 100 < {CORRUPT_PCT} THEN bal + CAST(1000.0 AS DOUBLE)"
    " ELSE bal END AS bal",
]


def _relations(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Clean file A and its deterministic dirty copy B."""
    la = table(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS id",
        "c_name AS name",
        "c_mktsegment AS seg",
        "CAST(c_nationkey AS INT) AS nat",
        "c_acctbal AS bal",
    )
    lr = la.selectExpr(
        "*",
        f"{_r_spark('nm')} AS r_nm",
        f"{_r_spark('sg')} AS r_sg",
        f"{_r_spark('bl')} AS r_bl",
    )
    return la, lr.selectExpr(*_CORRUPT_SPARK)


def _gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs (FastSS name block, lev <= 1 verify) reduced to
    integer agreement vectors + md5 label-sample and truth flags."""
    la, lb = _relations(spark, sf_dir)
    la = la.localCheckpoint(eager=False)  # feeds blocking AND attr join
    lb = lb.localCheckpoint(eager=False)
    # one pass over the cached A-side materializes it and gates the two
    # attribute broadcasts below (|B| == |A| exactly — the dirty copy is
    # row-preserving). ~64 B/row framed, so the 8M-row gate keeps the
    # forced broadcast near 500 MB; above it the planner shuffle-joins
    # (r17 size-guard — the r16 hints were unconditional).
    n_recs = la.count()
    # blocking-join plan notes (r16, guide §2.3/§1.2): the key is the
    # xxhash64 of the deletion variant (8-byte join column instead of
    # an ~L-char string; exact — any lev<=1 pair shares a REAL variant,
    # so collisions only add rows the filter/DISTINCT already drop) and
    # the verify uses the bounded levenshtein(a, b, 1) >= 0 form
    # (diagonal-band DP with early exit; identical row set, verified
    # 572,554 both forms at sf0.1)
    ka = la.select("id", "name", F.explode(F.expr(_VARIANTS)).alias("k"))
    kb = lb.select("id", "name", F.explode(F.expr(_VARIANTS)).alias("k"))
    ka = ka.select("id", "name", F.xxhash64("k").alias("k"))
    kb = kb.select("id", "name", F.xxhash64("k").alias("k"))
    cand = (
        ka.alias("a")
        .join(kb.alias("b"), "k")
        # verify BEFORE the pair-dedup shuffle (fuzzyjoin.py discipline).
        # The equality short-circuit skips the DP entirely for the
        # dominant candidate class — an uncorrupted name joining its own
        # dirty copy on every shared deletion variant (75% of names are
        # uncorrupted). Exact: lev(a, a) = 0 passes the bounded form
        # too, and codegen's Or evaluates the cheap memcmp first
        # (r16 VERDICT #4; row count re-proven identical at sf0.1).
        # A length prefilter would be free but prunes nothing here:
        # names are fixed-width Customer#%09d and the corruption is a
        # same-length substitution.
        .filter(F.expr("a.name = b.name OR levenshtein(a.name, b.name, 1) >= 0"))
        .select(F.col("a.id").alias("ida"), F.col("b.id").alias("idb"))
        .distinct()
    )
    # broadcast the 4-attribute relations onto the candidate pairs: the
    # localCheckpoint erases stats, so without the hint both V-row
    # attribute attachments sort-merge-join (exchange + sort of the
    # candidate table twice — guide §3.1); size-guarded per above
    return (
        cand.join(
            bcast_if(
                la.selectExpr(
                    "id AS ida",
                    "name AS name_a",
                    "seg AS seg_a",
                    "nat AS nat_a",
                    "bal AS bal_a",
                ),
                n_recs,
                _GAMMA_BCAST_ROWS,
            ),
            "ida",
        )
        .join(
            bcast_if(
                lb.selectExpr(
                    "id AS idb",
                    "name AS name_b",
                    "seg AS seg_b",
                    "nat AS nat_b",
                    "bal AS bal_b",
                ),
                n_recs,
                _GAMMA_BCAST_ROWS,
            ),
            "idb",
        )
        .selectExpr(
            "ida",
            "idb",
            "CAST(name_a = name_b AS INT) AS g1",
            "CAST(seg_a = seg_b AS INT) AS g2",
            "CAST(nat_a = nat_b AS INT) AS g3",
            "CAST(bal_a = bal_b AS INT) AS g4",
            "CAST(ida = idb AS INT) AS m",
            "CASE WHEN CAST(conv(substring(md5(concat(CAST(ida AS STRING),"
            " ':', CAST(idb AS STRING))), 1, 15), 16, 10) AS BIGINT)"
            f" % {LABEL_MOD} < {LABEL_TAKE} THEN 1 ELSE 0 END AS lab",
        )
        .localCheckpoint(eager=False)  # weights pass + census pass share it
    )


def _clamp_ppm(agree: str, n: str) -> str:
    """Laplace agreement rate in ppm, clamped to [1, 999999] (dialect-
    neutral except the integer-division operator, substituted below)."""
    return (
        f"LEAST(999999{{L}}, GREATEST(1{{L}}, "
        f"(SUM({agree}) + 1) * 1000000 {{DIV}} (SUM({n}) + 2)))"
    )


def _weights(gam: DataFrame) -> DataFrame:
    """One-row m/u ppm table from the labeled subset (broadcastable)."""
    exprs = ["SUM(m) AS n_m", "SUM(1 - m) AS n_u"]
    for i in range(1, 5):
        exprs.append(
            _clamp_ppm(f"m * g{i}", "m").format(L="L", DIV="div") + f" AS m{i}"
        )
        exprs.append(
            _clamp_ppm(f"(1 - m) * g{i}", "1 - m").format(L="L", DIV="div")
            + f" AS u{i}"
        )
    return gam.filter("lab = 1").selectExpr(*exprs)


def _prod(prefix: str, vals: str) -> str:
    """4-factor ppm product: first three in BIGINT (<= 1e18), widened to
    DECIMAL(38,0) for the fourth (<= 1e24)."""
    terms = [
        f"IF(g{i} = 1, {vals}{i}, 1000000 - {vals}{i})" for i in range(1, 5)
    ]
    return (
        f"CAST({terms[0]} * {terms[1]} * {terms[2]} AS DECIMAL(38,0))"
        f" * {terms[3]} AS {prefix}_prod"
    )


# -- shared oracle CTE chain ------------------------------------------------
def _r_duck(tag: str) -> str:
    return md5_long_sql(f"id::VARCHAR || ':{tag}'")


def oracle_ctes(
    cand_pred: str = "",
    ka_body: str | None = None,
    kb_body: str | None = None,
    cand_body: str | None = None,
) -> str:
    """The shared DuckDB CTE chain (clean file → dirty copy → FastSS
    candidates → gamma vectors → m/u weights). ``cand_pred`` injects an
    optional extra predicate into the candidate join (e.g.
    ``" AND a.id % 8 = 7"``) — the native-scale verifier chunks the
    single 45-minute sf10 statement by ida (a pair's chunk is a
    function of ida, so per-chunk DISTINCT is globally correct) and
    accumulates the distributive gamma census across chunks.
    ``ka_body`` / ``kb_body`` substitute the variant-key CTE bodies
    (e.g. ``"SELECT * FROM vt_ka"``) so the chunked driver can
    materialize the ~(L+1)×-corpus key explosions ONCE instead of
    re-deriving them per chunk. ``cand_body`` substitutes the whole
    candidate CTE body: the committed text verifies levenshtein BEFORE
    the pair-dedup (right for Spark — the filter runs map-side ahead of
    the shuffle), but in the chunked DuckDB driver that order wastes
    one levenshtein PER SHARED VARIANT KEY (an uncorrupted name matches
    its own dirty copy on all ~(L+1) deletion keys), so the driver
    passes a dedup-first body — names are functions of the ids, so
    DISTINCT (ida, idb, names) before the verify is value-identical.
    With all defaults the text is the committed oracle's,
    byte-identical."""
    # str.replace, not .format: the rendered chain may contain braces
    return (
        _ORACLE_CTES_TMPL.replace("{CAND_BODY}", cand_body or _CAND_BODY)
        .replace("{CAND_PRED}", cand_pred)
        .replace("{KA_BODY}", ka_body or _KA_BODY)
        .replace("{KB_BODY}", kb_body or _KB_BODY)
    )


_CAND_BODY = """
    SELECT DISTINCT a.id AS ida, b.id AS idb
    FROM ka a JOIN kb b ON a.k = b.k
    WHERE levenshtein(a.name, b.name) <= 1{CAND_PRED}
"""

_KA_BODY = f"SELECT id, name, unnest({_VARIANTS_SQL}) AS k FROM la"
_KB_BODY = f"SELECT id, name, unnest({_VARIANTS_SQL}) AS k FROM lb"

_ORACLE_CTES_TMPL = f"""
la AS (
    SELECT c_custkey AS id, c_name AS name, c_mktsegment AS seg,
           CAST(c_nationkey AS INTEGER) AS nat, c_acctbal AS bal
    FROM customer
),
lrnd AS (
    SELECT id, name, seg, nat, bal,
           {_r_duck("nm")} AS r_nm,
           {_r_duck("sg")} AS r_sg,
           {_r_duck("bl")} AS r_bl
    FROM la
),
lb AS (
    SELECT id,
           CASE WHEN r_nm % 100 < {CORRUPT_PCT} THEN
             substr(name, 1,
                    CAST((r_nm // 100) % length(name) AS INTEGER))
             || 'x' ||
             substr(name,
                    CAST((r_nm // 100) % length(name) + 2 AS INTEGER),
                    length(name))
           ELSE name END AS name,
           CASE WHEN r_sg % 100 < {CORRUPT_PCT} THEN 'UNKNOWN'
                ELSE seg END AS seg,
           nat,
           CASE WHEN r_bl % 100 < {CORRUPT_PCT} THEN bal + 1000.0
                ELSE bal END AS bal
    FROM lrnd
),
ka AS ({{KA_BODY}}),
kb AS ({{KB_BODY}}),
cand AS ({{CAND_BODY}}),
gam AS (
    SELECT c.ida, c.idb,
           CAST(a.name = b.name AS INTEGER) AS g1,
           CAST(a.seg = b.seg AS INTEGER) AS g2,
           CAST(a.nat = b.nat AS INTEGER) AS g3,
           CAST(a.bal = b.bal AS INTEGER) AS g4,
           CAST(c.ida = c.idb AS INTEGER) AS m,
           CASE WHEN {md5_long_sql("c.ida::VARCHAR || ':' || c.idb::VARCHAR")}
                     % {LABEL_MOD} < {LABEL_TAKE} THEN 1 ELSE 0 END AS lab
    FROM cand c
    JOIN la a ON a.id = c.ida
    JOIN lb b ON b.id = c.idb
),
w AS (
    SELECT CAST(SUM(m) AS BIGINT) AS n_m,
           CAST(SUM(1 - m) AS BIGINT) AS n_u,
           {", ".join(
               "CAST("
               + _clamp_ppm(f"m * g{i}", "m").format(L="", DIV="//")
               + f" AS BIGINT) AS m{i}, CAST("
               + _clamp_ppm(f"(1 - m) * g{i}", "1 - m").format(L="", DIV="//")
               + f" AS BIGINT) AS u{i}"
               for i in range(1, 5)
           )}
    FROM gam WHERE lab = 1
)"""

_ORACLE_CTES = oracle_ctes()


def _prod_duck(prefix: str, vals: str) -> str:
    terms = [
        f"(CASE WHEN g{i} = 1 THEN {vals}{i} ELSE 1000000 - {vals}{i} END)"
        for i in range(1, 5)
    ]
    return (
        f"CAST({terms[0]} * {terms[1]} * {terms[2]} AS HUGEINT)"
        f" * {terms[3]} AS {prefix}_prod"
    )


def linkage_score_sql(w: str = "w") -> str:
    """The gamma-census → scored-pattern tail (<= 16 rows of wide
    decimal arithmetic), over the ``census`` relation and any relation
    ``w`` with the weights schema. Shared verbatim between the committed single-statement
    oracle (CTE names) and the native-scale chunked verifier (temp
    tables)."""
    return f"""
sc AS (
    SELECT g1, g2, g3, g4, n_pairs, n_true_pairs, sample_pair,
           {_prod_duck("num", "m")},
           {_prod_duck("den", "u")}
    FROM census, {w}
)
SELECT concat(CASE WHEN g1 = 1 THEN 'A' ELSE 'D' END,
              CASE WHEN g2 = 1 THEN 'A' ELSE 'D' END,
              CASE WHEN g3 = 1 THEN 'A' ELSE 'D' END,
              CASE WHEN g4 = 1 THEN 'A' ELSE 'D' END) AS pattern,
       CASE WHEN num_prod > den_prod * 1000000000
            THEN CAST({ODDS_CAP_PPM} AS BIGINT)
            ELSE CAST(num_prod * 1000000 // den_prod AS BIGINT)
       END AS odds_ppm,
       CASE WHEN num_prod >= den_prod * {T_MATCH} THEN 'match'
            WHEN num_prod * {T_NONMATCH_INV} <= den_prod THEN 'non_match'
            ELSE 'possible' END AS cls,
       n_pairs, n_true_pairs, sample_pair
FROM sc
"""


_LINKAGE_ORACLE = f"""
WITH {_ORACLE_CTES},
census AS (
    SELECT g1, g2, g3, g4,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(m) AS BIGINT) AS n_true_pairs,
           MIN(ida::VARCHAR || ':' || idb::VARCHAR) AS sample_pair
    FROM gam GROUP BY 1, 2, 3, 4
),
{linkage_score_sql()}
"""


@query("q_record_linkage", sql=_LINKAGE_ORACLE)
def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter linkage of customer against its deterministic
    dirty copy: FastSS-blocked candidates -> gamma vectors -> m/u
    weights from the md5-labeled subset -> exact likelihood-ratio
    product -> match/possible/non_match, censused per gamma pattern
    (with truth counts and the lexicographically smallest pair)."""
    gam = _gamma(spark, sf_dir)
    w = _weights(gam)
    census = gam.groupBy("g1", "g2", "g3", "g4").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("m").cast("long").alias("n_true_pairs"),
        F.min(
            F.expr("concat(CAST(ida AS STRING), ':', CAST(idb AS STRING))")
        ).alias("sample_pair"),
    )
    sc = census.crossJoin(F.broadcast(w)).selectExpr(
        "g1",
        "g2",
        "g3",
        "g4",
        "n_pairs",
        "n_true_pairs",
        "sample_pair",
        _prod("num", "m"),
        _prod("den", "u"),
    )
    return sc.selectExpr(
        "concat(IF(g1 = 1, 'A', 'D'), IF(g2 = 1, 'A', 'D'),"
        " IF(g3 = 1, 'A', 'D'), IF(g4 = 1, 'A', 'D')) AS pattern",
        f"CASE WHEN num_prod > den_prod * 1000000000L"
        f" THEN {ODDS_CAP_PPM}L"
        " ELSE CAST(num_prod * 1000000L div den_prod AS BIGINT)"
        " END AS odds_ppm",
        f"CASE WHEN num_prod >= den_prod * {T_MATCH} THEN 'match'"
        f" WHEN num_prod * {T_NONMATCH_INV} <= den_prod THEN 'non_match'"
        " ELSE 'possible' END AS cls",
        "n_pairs",
        "n_true_pairs",
        "sample_pair",
    )


def weights_unpivot_sql(w: str = "w") -> str:
    """The one-row weights relation → 4-row parameter table tail,
    shared between the committed oracle and the chunked verifier."""
    return f"""
unp AS (
    SELECT 'name'    AS field, m1 AS m_ppm, u1 AS u_ppm, n_m, n_u FROM {w}
    UNION ALL
    SELECT 'segment' AS field, m2, u2, n_m, n_u FROM {w}
    UNION ALL
    SELECT 'nation'  AS field, m3, u3, n_m, n_u FROM {w}
    UNION ALL
    SELECT 'acctbal' AS field, m4, u4, n_m, n_u FROM {w}
)
SELECT field, m_ppm, u_ppm,
       m_ppm * 1000000 // u_ppm AS agree_lr_ppm,
       (1000000 - m_ppm) * 1000000 // (1000000 - u_ppm) AS disagree_lr_ppm,
       n_m AS n_labeled_match, n_u AS n_labeled_nonmatch
FROM unp
"""


_WEIGHTS_ORACLE = f"""
WITH {_ORACLE_CTES},
{weights_unpivot_sql()}
"""


@query("q_linkage_weights", sql=_WEIGHTS_ORACLE)
def q_linkage_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned Fellegi-Sunter parameter table: per-field Laplace m/u
    ppm plus the agreement / disagreement likelihood ratios (ppm) the
    scorer multiplies — 4 rows, the whole model."""
    w = _weights(_gamma(spark, sf_dir))
    return w.selectExpr(
        "stack(4, 'name', m1, u1, 'segment', m2, u2,"
        " 'nation', m3, u3, 'acctbal', m4, u4) AS (field, m_ppm, u_ppm)",
        "n_m AS n_labeled_match",
        "n_u AS n_labeled_nonmatch",
    ).selectExpr(
        "field",
        "m_ppm",
        "u_ppm",
        "m_ppm * 1000000 div u_ppm AS agree_lr_ppm",
        "(1000000 - m_ppm) * 1000000 div (1000000 - u_ppm)"
        " AS disagree_lr_ppm",
        "n_labeled_match",
        "n_labeled_nonmatch",
    )
