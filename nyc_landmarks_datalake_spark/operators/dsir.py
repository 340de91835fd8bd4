"""DSIR-style importance weighting for pretraining data selection.

Data Selection with Importance Resampling (Xie et al., 2023) scores
every raw document by how much more likely its hashed n-gram profile
is under a TARGET distribution (here: the heuristic-good subset the
quality classifier also trains against) than under the RAW-corpus
distribution, then keeps the highest-importance documents. This module
phrases it with the repo's integer fixed-point discipline:

  1. one corpus pass explodes unigram+bigram instances into K=1024
     hashed buckets (the same md5 bucket hash as quality_clf, wider K
     — DSIR's own design hashes n-grams into a fixed bucket space
     precisely so the model stays broadcastable at any corpus size);
  2. per bucket, target and source rates in ppm (integer division):
     tgt_ppm = good-instance count * 10^6 // total good instances,
     src_ppm likewise over all instances; delta = tgt_ppm - src_ppm.
     The per-document importance is Σ delta over its gram instances —
     the ADDITIVE fixed-point surrogate of DSIR's log-likelihood
     ratio Σ log(p_tgt/p_src) (rate differences replace log ratios so
     every value stays an exact BIGINT; ranking-monotone where the
     log form saturates, and bit-identical across engines);
  3. scoring BROADCAST-HASH-JOINs the exploded gram instances to the
     K-row delta table and sums per doc — O(1) per-instance lookups.
     (A one-row map-literal fold, the K=64 classifier's shape, is
     O(K) PER LOOKUP on Spark's MapType and went quadratic-feeling at
     K=1024: 190 s at sf1 for what the join does in seconds — see the
     round-11 trap note.) Selection is a TakeOrdered top-k on
     (importance desc, doc_id asc) — deterministic, no global sort.

At 100 TB: the bucket-stats relation is K rows whatever the corpus
size; the shuffles are the two K-group hash-aggs plus one per-doc
score agg co-partitioned on doc_id; selection is TakeOrdered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.operators.quality_clf import _lab_ctes, _labeled
from nyc_landmarks_datalake_spark.registry import query

#: hashed bucket space for the n-gram importance model
K_DSIR = 1024
TOPK = 50

_B = f"cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint) % {K_DSIR}"
_B_SQL = f"(('0x' || substr(md5(g), 1, 15))::BIGINT) % {K_DSIR}"


def dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, y, importance) for every document."""
    lab = _labeled(spark, sf_dir)
    inst = lab.select("y", F.explode("grams").alias("g")).select(
        "y", F.expr(_B).alias("b")
    )
    stats = inst.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
    )
    # one-row totals attach as a broadcast scalar; ppm rates and the
    # delta stay integer (floor division)
    totals = stats.agg(
        F.sum("n_all").cast("long").alias("t_all"),
        F.sum("n_good").cast("long").alias("t_good"),
    )
    delta = (
        stats.crossJoin(F.broadcast(totals))
        .selectExpr(
            "b",
            "CAST(n_good * 1000000 div t_good"
            " - n_all * 1000000 div t_all AS BIGINT) AS delta",
        )
        .localCheckpoint(eager=True)  # K rows
    )
    inst_doc = lab.select("doc_id", F.explode("grams").alias("g")).select(
        "doc_id", F.expr(_B).alias("b")
    )
    imp = (
        inst_doc.join(F.broadcast(delta), "b")
        .groupBy("doc_id")
        .agg(F.sum("delta").cast("long").alias("imp"))
    )
    return (
        lab.select("doc_id", "lang", "y")
        .join(imp, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "y",
            F.coalesce(F.col("imp"), F.lit(0))
            .cast("long")
            .alias("importance"),
        )
    )


def _scored_ctes() -> str:
    return f"""WITH {_lab_ctes()},
    inst AS (
        SELECT doc_id, y, {_B_SQL} AS b
        FROM (SELECT doc_id, y, unnest(grams) AS g FROM lab)
    ),
    stats AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS n_all,
               CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_good
        FROM inst GROUP BY 1
    ),
    totals AS (
        SELECT CAST(SUM(n_all) AS BIGINT) AS t_all,
               CAST(SUM(n_good) AS BIGINT) AS t_good
        FROM stats
    ),
    delta AS (
        SELECT b, CAST(n_good * 1000000 // t_good
                       - n_all * 1000000 // t_all AS BIGINT) AS delta
        FROM stats, totals
    ),
    scored AS (
        SELECT l.doc_id, l.lang, l.y,
               CAST(COALESCE(s.imp, 0) AS BIGINT) AS importance
        FROM lab l LEFT JOIN (
            SELECT i.doc_id, SUM(d.delta) AS imp
            FROM inst i JOIN delta d USING (b)
            GROUP BY 1
        ) s USING (doc_id)
    )"""


@query(
    "q_dsir_importance",
    sql=_scored_ctes()
    + """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(importance) AS BIGINT) AS sum_importance,
           CAST(SUM(CASE WHEN importance > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_positive,
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_label_good
    FROM scored GROUP BY 1""",
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang census of DSIR importance: how much of each language
    slice the target-likeness score would up-weight."""
    return dsir_scored(spark, sf_dir).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("importance").cast("long").alias("sum_importance"),
        F.sum(F.when(F.col("importance") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_positive"),
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_label_good"),
    )


@query(
    "q_dsir_select_topk",
    sql=_scored_ctes()
    + f"""
    SELECT doc_id, lang, importance
    FROM scored
    ORDER BY importance DESC, doc_id ASC
    LIMIT {TOPK}""",
)
def q_dsir_select_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection step: keep the TOPK most target-like documents —
    TakeOrdered on the deterministic (importance desc, doc_id asc)
    order, never a global sort."""
    return (
        dsir_scored(spark, sf_dir)
        .orderBy(F.desc("importance"), F.asc("doc_id"))
        .limit(TOPK)
        .select("doc_id", "lang", "importance")
    )
