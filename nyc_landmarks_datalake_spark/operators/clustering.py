"""Distributed k-means (Lloyd's) over ``embeddings.embedding`` and the
SemDeDup-style semantic dedup built on it.

Training-data curation at 100 TB clusters the embedding space first
(coarse structure), then prunes semantic duplicates INSIDE each cluster
(SemDeDup, Abbas et al. 2023): pairwise similarity is only ever computed
within a cluster, never across the corpus.

Scale design (everything here is the IVF pattern from similarity.py,
iterated):

- **Assignment is map-side.** The k centroids ride as ONE broadcast
  array column; each vector's nearest centroid is an ``array_max`` over
  (cos, -c_id) structs inside whole-stage codegen. No shuffle of the
  corpus, no driver ``collect``.
- **The update step shuffles only (c_id, pos, partial-sums).**
  ``posexplode`` + hash-agg with map-side combine: the shuffle carries
  k*d partial aggregates per map task, independent of corpus size.
  Means go through exact DECIMAL sums (functions/numeric.davg) so the
  recomputed centroids are bit-identical across engines AND across
  Spark partition counts.
- **Iterations are fixed** (KM_ITERS assignment passes, KM_ITERS-1
  updates), not convergence-polled — no per-iteration driver round-trip.
  The assignment frame is lazily ``localCheckpoint``-ed before the
  explode: GenerateExec re-evaluates its child during generation, and
  the child here contains the k-way argmax (the explode-over-computed-
  input trap, see dedup.py).
- **Semantic dedup pairs are member-capped.** Clusters are LSH-bucket
  analogues: pair expansion goes through dedup.capped_bucket_pairs, so
  one mega-cluster costs O(members), never O(members^2), and no
  aggregation buffer materializes an oversized cluster.

Oracle: the full two-iteration chain is mirrored as DuckDB CTEs —
same centroid init, same tie-breaks (cos DESC, c_id ASC), same decimal
means, same float64 cosine — so the driver's value-hash check covers
every step, not just the final counts.

Reference parity note: the reference lake (CSVIngest.java) has no
analytics tier; this module is part of the builder-brief LLM-pipeline
surface (SURVEY.md §2.B "LLM-pipeline ops").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.functions.numeric import davg, davg_sql
from nyc_landmarks_datalake_spark.functions.vectors import cent_scored, cosine, cosine_sql
from nyc_landmarks_datalake_spark.operators.dedup import (
    capped_bucket_pairs,
    capped_pair_ctes_sql,
)
from nyc_landmarks_datalake_spark.registry import query
from nyc_landmarks_datalake_spark.sources.catalog import compute_table

#: every KM_MOD-th vec_id seeds a centroid, hard-capped at MAX_K —
#: uncapped, k grows linearly with the corpus and every assignment
#: pass costs n*k (the q_ivf_topk sf10 lesson: 5000 centroids took
#: 1989 s). 10 cells at sf0.01's 500 vectors; 200 from sf0.5 up.
KM_MOD = 50
MAX_K = 200
#: assignment passes (updates = KM_ITERS - 1). Fixed, not polled.
KM_ITERS = 2
#: intra-cluster cosine at/above which the later vector is a semantic dup.
SEM_THRESHOLD = 0.4


def _best(emb: Column) -> Column:
    """Struct(cos, neg_id) of the nearest centroid: max cosine, ties to
    the smallest c_id — identical to ORDER BY cos DESC, c_id LIMIT 1."""
    return F.array_max(cent_scored(emb))


def _as_cent_array(cents: DataFrame) -> DataFrame:
    """Collapse a (c_id, c_emb) frame to ONE row holding the sorted
    centroid array — the broadcast side of every assignment pass."""
    return cents.agg(
        F.array_sort(F.collect_list(F.struct("c_id", "c_emb"))).alias("cents")
    )


def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run KM_ITERS Lloyd assignment passes; return one row per vector:
    (vec_id, embedding, c_id_prev, c_id, cos) where c_id is the final
    cluster, c_id_prev the previous pass's, cos the cosine to the final
    centroid."""
    emb = compute_table(spark, sf_dir, "embeddings")
    cents = _as_cent_array(
        emb.filter(
            (F.col("vec_id") % KM_MOD == 0) & (F.col("vec_id") < KM_MOD * MAX_K)
        ).select(
            F.col("vec_id").alias("c_id"),
            F.col("embedding").alias("c_emb"),
        )
    )
    assign = None
    for _ in range(KM_ITERS - 1):
        # Assignment pass i: map-side argmax against broadcast centroids.
        # Lazily checkpointed — the next update step explodes this frame,
        # and GenerateExec would otherwise re-run the argmax per element.
        assign = (
            emb.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                "embedding",
                (-_best(F.col("embedding"))["neg_id"]).alias("c_id"),
            )
            .localCheckpoint(eager=False)
        )
        # Update step: exact per-(cluster, dim) decimal means → new
        # centroid array. Shuffle carries k*d partials, not vectors.
        means = (
            assign.select("c_id", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("c_id", "pos")
            .agg(davg(F.col("val").cast("double")).alias("mv"))
        )
        cents = _as_cent_array(
            means.groupBy("c_id").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                    lambda s: s["mv"],
                ).alias("c_emb")
            )
        )
        emb = assign.select("vec_id", "embedding", F.col("c_id").alias("c_id_prev"))
    best = _best(F.col("embedding"))
    return emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "c_id_prev",
        (-best["neg_id"]).alias("c_id"),
        best["cos"].alias("cos"),
    )


def _kmeans_ctes_sql() -> str:
    """DuckDB mirror of :func:`kmeans_assignments` (KM_ITERS=2): CTEs
    ``cent0/assign1/kflat/kmeans_/cent1/assign2``; consume ``assign2``
    (vec_id, embedding, c_id_prev, c_id, cos)."""
    assert KM_ITERS == 2, "oracle CTE chain is written for 2 passes"
    return f"""cent0 AS (
        SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
        WHERE vec_id % {KM_MOD} = 0 AND vec_id < {KM_MOD * MAX_K}
    ),
    assign1 AS (
        SELECT vec_id, embedding, c_id FROM (
            SELECT e.vec_id, e.embedding, c.c_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {cosine_sql('e.embedding', 'c.c_emb')} DESC, c.c_id
                   ) AS rn
            FROM embeddings e CROSS JOIN cent0 c
        ) WHERE rn = 1
    ),
    kflat AS (
        SELECT c_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM assign1
    ),
    kmeans_ AS (
        SELECT c_id, pos, {davg_sql('val')} AS mv FROM kflat GROUP BY 1, 2
    ),
    cent1 AS (
        SELECT c_id, list(mv ORDER BY pos) AS c_emb FROM kmeans_ GROUP BY c_id
    ),
    assign2 AS (
        SELECT vec_id, embedding, c_id_prev, c_id, cos FROM (
            SELECT a.vec_id, a.embedding, a.c_id AS c_id_prev, c.c_id,
                   {cosine_sql('a.embedding', 'c.c_emb')} AS cos,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {cosine_sql('a.embedding', 'c.c_emb')} DESC, c.c_id
                   ) AS rn
            FROM assign1 a CROSS JOIN cent1 c
        ) WHERE rn = 1
    )"""


@query(
    "q_kmeans_lloyd",
    sql=f"""
    WITH {_kmeans_ctes_sql()}
    SELECT c_id,
           COUNT(*) AS n_members,
           CAST(SUM(CASE WHEN c_id <> c_id_prev THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved,
           MIN(cos) AS min_cos,
           MAX(cos) AS max_cos
    FROM assign2
    GROUP BY c_id
    """,
)
def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass Lloyd's: per-cluster size, inter-pass churn, and the
    cosine envelope to the refined centroid. min/max of doubles are
    order-independent, so the whole output is bit-exact with no decimal
    detour on the cosine side."""
    a = kmeans_assignments(spark, sf_dir)
    return a.groupBy("c_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(
            F.when(F.col("c_id") != F.col("c_id_prev"), 1).otherwise(0)
        ).alias("n_moved"),
        F.min("cos").alias("min_cos"),
        F.max("cos").alias("max_cos"),
    )


@query(
    "q_semantic_dedup",
    sql=f"""
    WITH {_kmeans_ctes_sql()},
    members AS (SELECT c_id, vec_id, embedding FROM assign2),
    {capped_pair_ctes_sql(
        'sd_',
        'members',
        ['c_id'],
        "{'vec_id': vec_id, 'embedding': embedding}",
        k_sql='embedding',
    )}
    SELECT p.b.vec_id AS vec_id,
           COUNT(*) AS n_partners,
           MAX({cosine_sql('p.a.embedding', 'p.b.embedding')}) AS max_cos
    FROM sd_pairs
    WHERE {cosine_sql('p.a.embedding', 'p.b.embedding')} >= {SEM_THRESHOLD}
    GROUP BY 1
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: inside each k-means cluster, pairs at/above
    SEM_THRESHOLD cosine mark the later vec_id as a semantic duplicate.
    One row per dropped vector with its duplicate-partner count and the
    strongest similarity — counts and MAX are order-independent, so no
    decimal detour. Pair expansion is member-capped (see module doc)."""
    a = kmeans_assignments(spark, sf_dir)
    b = a.select(
        "c_id", F.struct("vec_id", "embedding").alias("m")
    )
    pairs = capped_bucket_pairs(b, ["c_id"], member_col="m", key_col="m.embedding")
    cos = cosine(F.col("p.a.embedding"), F.col("p.b.embedding"))
    return (
        pairs.filter(cos >= SEM_THRESHOLD)
        .groupBy(F.col("p.b.vec_id").alias("vec_id"))
        .agg(
            F.count(F.lit(1)).alias("n_partners"),
            F.max(cos).alias("max_cos"),
        )
    )
