"""Similarity search over ``embeddings.embedding`` (array<float>, d=64):
brute-force cosine top-k (the exact baseline) and a sign-random-projection
LSH-bucketed near-neighbor variant (the scale path).

Design for 100 TB (SURVEY §2.B "LLM-pipeline ops"):

- brute force: query vectors are broadcast (they are tiny); scoring is
  map-side codegen over the big side (zip_with/aggregate, no UDF); the
  only shuffle is the final per-query top-k (TakeOrdered-style, partial
  top-k per partition via row_number window on (query, score));
- LSH: each vector maps to an integer bucket via sign bits of K fixed
  integer projections — pure map work; candidate pairs join only within
  (bucket) groups, turning O(n^2) scoring into bucket-local work.

Projection matrices are deterministic integer literals derived from an
LCG, embedded identically in the Spark plan and the DuckDB oracle SQL —
dot products then run in float64 in both engines, bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.functions.numeric import (
    davg_sql,
    dprod_sum_sql,
    dsum_sql,
)
from nyc_landmarks_datalake_spark.functions.vectors import (
    cent_scored,
    cosine,
    cosine_sql,
    dot_sql,
)
from nyc_landmarks_datalake_spark.operators.dedup import (
    capped_bucket_pairs,
    capped_pair_ctes_sql,
)
from nyc_landmarks_datalake_spark.registry import query
from nyc_landmarks_datalake_spark.sources.catalog import compute_table, table

DIM = 64
N_PROJ = 8
COSINE_THRESHOLD = 0.3
TOP_K = 10
N_QUERY_VECS = 5


def _projections() -> list[list[int]]:
    """Deterministic integer projection vectors (LCG, same constants as
    the oracle SQL)."""
    return [
        [((1103515245 * (j * DIM + d) + 12345) % 2001) - 1000 for d in range(DIM)]
        for j in range(N_PROJ)
    ]


PROJ = _projections()


def _proj_dot_spark(emb: Column, vec: list[int]) -> Column:
    lit_arr = F.array(*[F.lit(float(v)) for v in vec])
    return F.aggregate(
        F.zip_with(emb, lit_arr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _proj_dot_sql(emb: str, vec: list[int]) -> str:
    arr = "[" + ", ".join(f"{v}.0" for v in vec) + "]"
    return f"list_dot_product(({emb})::DOUBLE[], {arr}::DOUBLE[])"


def bucket_spark(emb: Column) -> Column:
    terms = []
    for j, vec in enumerate(PROJ):
        terms.append(
            F.when(_proj_dot_spark(emb, vec) > 0, F.lit(1 << j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def bucket_sql(emb: str) -> str:
    terms = [
        f"(CASE WHEN {_proj_dot_sql(emb, vec)} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j, vec in enumerate(PROJ)
    ]
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# Brute-force cosine top-k for a fixed query set (vec_id < N_QUERY_VECS).
# ---------------------------------------------------------------------------
@query(
    "q_cosine_topk",
    sql=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < {N_QUERY_VECS}),
    scored AS (
        SELECT q.q_id, e.vec_id,
               {cosine_sql('e.embedding', 'q.q_emb')} AS cos_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cos_sim DESC, vec_id
        ) AS rk
        FROM scored
    )
    WHERE rk <= {TOP_K}
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = compute_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("embedding"), F.col("q_emb")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "vec_id", "cos_sim", "rk")
    )


# ---------------------------------------------------------------------------
# LSH bucket assignment parity (checks the projection machinery).
# ---------------------------------------------------------------------------
@query(
    "q_lsh_buckets",
    sql=f"""
    SELECT vec_id, {bucket_sql('embedding')} AS bucket
    FROM embeddings
    """,
)
def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = compute_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", bucket_spark(F.col("embedding")).alias("bucket"))


# ---------------------------------------------------------------------------
# Embedding near-dup: candidate pairs within an LSH bucket, verified by
# exact cosine. Buckets are member-capped (dedup.MAX_BAND_BUCKET) with
# membership-bounded buffers (capped_bucket_pairs): all pairs up to the
# cap, consecutive-chain pairs beyond — ordered by the EMBEDDING so
# chain neighbors are geometrically close and likely to pass the cosine
# verification. One degenerate bucket (e.g. a spike of near-identical
# embeddings on a 100 TB corpus) costs O(members), never O(members^2),
# and no aggregation buffer ever materializes an oversized bucket's
# vectors.
# ---------------------------------------------------------------------------
@query(
    "q_embedding_neardup",
    sql=f"""
    WITH b AS (
        SELECT vec_id, embedding, {bucket_sql('embedding')} AS bucket
        FROM embeddings
    ),
    {capped_pair_ctes_sql(
        'eb_',
        'b',
        ['bucket'],
        "{'vec_id': vec_id, 'embedding': embedding}",
        k_sql='embedding',
    )}
    SELECT p.a.vec_id AS vec1, p.b.vec_id AS vec2,
           {cosine_sql('p.a.embedding', 'p.b.embedding')} AS cos_sim
    FROM eb_pairs
    WHERE {cosine_sql('p.a.embedding', 'p.b.embedding')} >= {COSINE_THRESHOLD}
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bucket once (a self-join would recompute the 8 projection dots on
    # both sides), expand ordered pairs inside member-capped buckets,
    # then score each candidate pair exactly once.
    emb = compute_table(spark, sf_dir, "embeddings")
    b = emb.select(
        F.struct("vec_id", "embedding").alias("m"),
        bucket_spark(F.col("embedding")).alias("bucket"),
    )
    pairs = capped_bucket_pairs(
        b, ["bucket"], member_col="m", key_col="m.embedding"
    )
    cos = cosine(F.col("p.a.embedding"), F.col("p.b.embedding"))
    return pairs.filter(cos >= COSINE_THRESHOLD).select(
        F.col("p.a.vec_id").alias("vec1"),
        F.col("p.b.vec_id").alias("vec2"),
        cos.alias("cos_sim"),
    )


# ---------------------------------------------------------------------------
# IVF-style ANN top-k (the coarse-quantizer scale path): a deterministic
# centroid subset partitions the vector space into cells; every vector
# is assigned to its nearest centroid MAP-SIDE against the broadcast
# centroid set (no shuffle over the big table — unlike a window-rank
# formulation, which would shuffle every vector by vec_id); queries
# probe their NPROBE nearest cells and rank only vectors inside them.
# At 100 TB the assignment also serves as the layout key: writing the
# corpus partitioned by cell makes each probe a partition-pruned scan.
# ---------------------------------------------------------------------------
CENTROID_MOD = 40  # vec_id % MOD == 0 → deterministic coarse quantizer
#: hard cap on the coarse-quantizer size. Without it k grows linearly
#: with the corpus and assignment cost grows as n*k ~ n^2/MOD —
#: measured 1989 s at sf10 (200k vectors, 5000 centroids) vs ~2 s at
#: sf0.1. Real IVF sizes k ~ sqrt(n); the cap keeps assignment linear
#: while staying a pure static predicate both engines share.
MAX_CENTROIDS = 256
NPROBE = 2
IVF_TOP_K = 3


@query(
    "q_ivf_topk",
    sql=f"""
    WITH cent AS (
        SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
        WHERE vec_id % {CENTROID_MOD} = 0
          AND vec_id < {CENTROID_MOD * MAX_CENTROIDS}
    ),
    assign AS (
        SELECT vec_id, embedding, c_id FROM (
            SELECT e.vec_id, e.embedding, c.c_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {cosine_sql('e.embedding', 'c.c_emb')} DESC, c.c_id
                   ) AS rn
            FROM embeddings e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT q_id, c_id FROM (
            SELECT q.vec_id AS q_id, c.c_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {cosine_sql('q.embedding', 'c.c_emb')} DESC, c.c_id
                   ) AS rn
            FROM embeddings q CROSS JOIN cent c
            WHERE q.vec_id < {N_QUERY_VECS}
        ) WHERE rn <= {NPROBE}
    ),
    scored AS (
        SELECT p.q_id, a.vec_id,
               {cosine_sql('a.embedding', 'q.embedding')} AS cos_sim
        FROM probe p
        JOIN assign a ON a.c_id = p.c_id
        JOIN embeddings q ON q.vec_id = p.q_id
        WHERE a.vec_id <> p.q_id
    )
    SELECT q_id, vec_id, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cos_sim DESC, vec_id
        ) AS rk
        FROM scored
    )
    WHERE rk <= {IVF_TOP_K}
    """,
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = compute_table(spark, sf_dir, "embeddings")
    cent = emb.filter(
        (F.col("vec_id") % CENTROID_MOD == 0)
        & (F.col("vec_id") < CENTROID_MOD * MAX_CENTROIDS)
    ).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    # All centroids as ONE array column on a 1-row frame, broadcast onto
    # the corpus: assignment is then a map-side argmax (array_max over
    # (cos, -c_id) structs = max cosine, ties to smallest centroid id,
    # matching the oracle's ORDER BY cos DESC, c_id). No driver collect,
    # no shuffle of the big table.
    cent_arr = cent.agg(
        F.array_sort(F.collect_list(F.struct("c_id", "c_emb"))).alias("cents")
    )
    assign = (
        emb.crossJoin(F.broadcast(cent_arr))
        .select(
            "vec_id",
            "embedding",
            (-F.array_max(cent_scored(F.col("embedding")))["neg_id"]).alias("c_id"),
        )
    )
    # Probe cells per query: top-NPROBE centroids by the same ordering.
    probes = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
        .crossJoin(F.broadcast(cent_arr))
        .select(
            "q_id",
            "q_emb",
            F.explode(
                F.slice(
                    F.reverse(F.array_sort(cent_scored(F.col("q_emb")))),
                    1,
                    NPROBE,
                )
            ).alias("pc"),
        )
        .select("q_id", "q_emb", (-F.col("pc.neg_id")).alias("c_id"))
    )
    scored = (
        assign.join(F.broadcast(probes), "c_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("embedding"), F.col("q_emb")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= IVF_TOP_K)
        .select("q_id", "vec_id", "cos_sim", "rk")
    )


# ---------------------------------------------------------------------------
# Per-label centroids — the (re)training step of the IVF coarse
# quantizer above: element-wise mean vector per label. posexplode is
# map-side; one hash-agg on (label, pos) carries 8-byte floats, never
# vectors; decimal-exact means keep the result bit-stable at any
# parallelism (and hash-comparable against the oracle).
# ---------------------------------------------------------------------------
@query(
    "q_label_centroids",
    sql=f"""
    WITH flat AS (
        SELECT label,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    )
    SELECT label, pos, {davg_sql('val')} AS mean_val, COUNT(*) AS n_vecs
    FROM flat
    GROUP BY 1, 2
    """,
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_landmarks_datalake_spark.functions.numeric import davg

    # compute_table, not table: the 64x posexplode + decimal partial
    # aggregation is compute-heavy, and a single-file corpus would
    # otherwise run it on one task (every sibling query in this module
    # already reads embeddings this way)
    emb = compute_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode("embedding").alias("pos", "val")
        )
        .groupBy("label", "pos")
        .agg(
            davg(F.col("val").cast("double")).alias("mean_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


# ---------------------------------------------------------------------------
# Int8 scalar quantization of the embedding column — the storage/SIMD
# compression step before ANN at scale (4x smaller vectors, the IVF
# probe then scores int8). Symmetric per-vector scale = max|x|/127;
# rounding is floor(x/scale + 0.5), NOT round(): Spark's HALF_UP and
# DuckDB's rounding can break exact-.5 ties differently, while floor is
# bit-identical everywhere. Pure map-side (zero shuffle, zero Python):
# per vector we emit the quantized checksum (integer-exact — any
# misquantized lane changes it) and the max absolute reconstruction
# error (order-independent double MAX).
# ---------------------------------------------------------------------------
Q8_LO, Q8_HI = -127, 127


def _q8(x: Column, scale: Column) -> Column:
    """Clamped int8 lane: floor(x/scale + 0.5) in [-127, 127]."""
    return F.greatest(
        F.least(F.floor(x / scale + 0.5), F.lit(float(Q8_HI))),
        F.lit(float(Q8_LO)),
    )


def _q8_sql(x: str, scale: str) -> str:
    # float(Q8_HI) renders "127.0" — byte-identical SQL to the previous
    # literals, but a range change now propagates to every mirror
    return (
        f"greatest(least(floor(({x}) / ({scale}) + 0.5), "
        f"{float(Q8_HI)}), {float(Q8_LO)})"
    )


@query(
    "q_embedding_quantize",
    sql=f"""
    WITH qv AS (
        SELECT vec_id,
               embedding::DOUBLE[] AS e,
               greatest(list_max(list_transform(embedding::DOUBLE[],
                                                x -> abs(x))), 1e-30) / {Q8_HI}
                   AS scale
        FROM embeddings
    )
    SELECT vec_id,
           scale,
           CAST(list_sum(list_transform(e,
               x -> CAST({_q8_sql('x', 'scale')} AS BIGINT))) AS BIGINT)
               AS q_sum,
           list_max(list_transform(e,
               x -> abs(x - {_q8_sql('x', 'scale')} * scale)))
               AS max_abs_err
    FROM qv
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = compute_table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qv = emb.select(
        "vec_id",
        e.alias("e"),
        (
            F.greatest(
                F.array_max(F.transform(e, lambda x: F.abs(x))), F.lit(1e-30)
            )
            / Q8_HI
        ).alias("scale"),
    )
    scale = F.col("scale")
    return qv.select(
        "vec_id",
        "scale",
        F.aggregate(
            F.transform(F.col("e"), lambda x: _q8(x, scale).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("q_sum"),
        F.array_max(
            F.transform(F.col("e"), lambda x: F.abs(x - _q8(x, scale) * scale))
        ).alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# Shared exact-ranking machinery for the recall / fusion batteries.
# ONE copy of the broadcast-queries / window-rank shape and ONE copy of
# the recall@k tail, so a tie-break, depth, or scoring tweak can never
# evaluate one metric against a subtly different ranking than another
# (r8 review: the pattern had drifted into four hand-kept copies).
# ---------------------------------------------------------------------------
def _exact_rank_ids(
    base: DataFrame,
    *,
    q_src: Column,
    q_alias: str,
    corpus_expr: Column,
    q_expr: Column,
    score_alias: str,
    k: int,
    keep_rank: bool = False,
) -> DataFrame:
    """(q_id, vec_id[, rk]) of the top-k corpus rows per query vector
    (vec_id < N_QUERY_VECS) by exact cosine, ties to the smaller
    vec_id. Queries are broadcast; scoring never shuffles the corpus;
    the only reduction is the per-query top-k window."""
    queries = base.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), q_src.alias(q_alias)
    )
    scored = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id", cosine(corpus_expr, q_expr).alias(score_alias)
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc(score_alias), F.asc("vec_id")
    )
    out = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )
    return out.select("q_id", "vec_id", "rk") if keep_rank else out.select(
        "q_id", "vec_id"
    )


def _recall_at_k(full_k: DataFrame, variant_k: DataFrame, k: int) -> DataFrame:
    """Per-query overlap of a variant ranking with the exact top-k.
    Misses stay in the denominator via the left join."""
    t = variant_k.withColumnRenamed("vec_id", "t_vec_id")
    j = full_k.join(
        t,
        (full_k.q_id == t.q_id) & (full_k.vec_id == t.t_vec_id),
        "left",
    ).select(full_k.q_id.alias("q_id"), "t_vec_id")
    return j.groupBy("q_id").agg(
        F.count("t_vec_id").cast("long").alias("n_overlap"),
        (F.count("t_vec_id") * F.lit(1.0) / k).alias("recall_at_k"),
    )


def _rank_ids_sql(
    relation: str,
    corpus_expr: str,
    query_expr: str,
    k: int,
    *,
    cols: str = "q_id, vec_id",
) -> str:
    """The oracle twin of _exact_rank_ids — one template for every
    ranked-retrieval CTE (full/truncated/dequantized), parameterized by
    relation and pre-formatted corpus/query expressions."""
    return f"""
        SELECT {cols} FROM (
            SELECT q.vec_id AS q_id, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {cosine_sql(corpus_expr, query_expr)} DESC,
                                e.vec_id
                   ) AS rk
            FROM {relation} e CROSS JOIN {relation} q
            WHERE q.vec_id < {N_QUERY_VECS} AND e.vec_id <> q.vec_id
        ) WHERE rk <= {k}
    """


# ---------------------------------------------------------------------------
# Matryoshka truncation recall: score the corpus with only the first
# TRUNC_DIM dims (the memory/bandwidth play — a truncated index is
# TRUNC_DIM/DIM the size and the dot product TRUNC_DIM/DIM the FLOPs),
# and measure recall@K against the full-dimension exact top-k. The
# overlap COUNT is integer-exact, so the whole quality measurement sits
# under the bit-exact oracle gate. Same broadcast-queries shape as
# q_cosine_topk: scoring never shuffles the corpus, each variant pays
# one top-k reduction.
# ---------------------------------------------------------------------------
TRUNC_DIM = 16


def _topk_sql(emb_expr: str, k: int) -> str:
    return _rank_ids_sql(
        "embeddings", emb_expr.format(t="e"), emb_expr.format(t="q"), k
    )


@query(
    "q_matryoshka_recall",
    sql=f"""
    WITH full_k AS ({_topk_sql('{t}.embedding', TOP_K)}),
    trunc_k AS ({_topk_sql(f'list_slice({{t}}.embedding, 1, {TRUNC_DIM})', TOP_K)})
    SELECT f.q_id,
           CAST(COUNT(t.vec_id) AS BIGINT) AS n_overlap,
           (COUNT(t.vec_id) * 1.0) / {TOP_K} AS recall_at_k
    FROM full_k f
    LEFT JOIN trunc_k t ON t.q_id = f.q_id AND t.vec_id = f.vec_id
    GROUP BY f.q_id
    """,
)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = compute_table(spark, sf_dir, "embeddings")

    def topk(emb_col, q_col) -> DataFrame:
        return _exact_rank_ids(
            emb,
            q_src=F.col("embedding"),
            q_alias="q_emb",
            corpus_expr=emb_col(F.col("embedding")),
            q_expr=q_col(F.col("q_emb")),
            score_alias="cos_sim",
            k=TOP_K,
        )

    ident = lambda c: c  # noqa: E731
    trunc = lambda c: F.slice(c, 1, TRUNC_DIM)  # noqa: E731
    return _recall_at_k(topk(ident, ident), topk(trunc, trunc), TOP_K)


# ---------------------------------------------------------------------------
# Exact covariance matrix of the embedding corpus — the distributed
# half of PCA/whitening. The classic split: the cluster reduces 100 TB
# of vectors to one d×d Gram/covariance matrix (here d=64 → 2080
# upper-triangle entries) with ONE aggregation; eigendecomposition of
# that tiny matrix is a driver/numpy concern downstream, not a data
# problem. Cross-row float sums have no deterministic order, so both
# moments go through the decimal-exact dsum/dprod_sum path and the
# covariance derives from the exact sums in identical float64
# expressions — bit-exact under the oracle, same strategy as
# dstddev/dcorr.
#
# Shape: explode to (vec_id, i, v) then self-join on vec_id (i<=j) —
# co-partitioned, no data-size shuffle beyond the 2080-group partial
# agg. The per-row alternative (emit all d^2/2 products per vector,
# no join) trades shuffle for GenerateExec compute; at d=64 the join
# form keeps the exploded stream narrow.
# ---------------------------------------------------------------------------
@query(
    "q_embedding_covariance",
    sql=f"""
    WITH idx AS (SELECT unnest(range(1, {DIM} + 1)) AS i),
    x AS (
        SELECT vec_id, idx.i AS i, CAST(embedding[idx.i] AS DOUBLE) AS v
        FROM embeddings, idx
    ),
    g AS (
        SELECT a.i AS i, b.i AS j,
               {dprod_sum_sql('a.v', 'b.v')} AS sum_xy,
               COUNT(*) AS n_vecs
        FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY 1, 2
    ),
    s AS (SELECT i, {dsum_sql('v')} AS sv FROM x GROUP BY 1)
    SELECT g.i, g.j, g.n_vecs, si.sv AS sum_x, sj.sv AS sum_y, g.sum_xy,
           (g.sum_xy - si.sv * sj.sv / g.n_vecs) / (g.n_vecs - 1) AS cov
    FROM g JOIN s si ON si.i = g.i JOIN s sj ON sj.i = g.j
    """,
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_landmarks_datalake_spark.functions.numeric import dprod_sum, dsum

    e = compute_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "vf")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.col("vf").cast("double").alias("v"),
    ).localCheckpoint(eager=False)
    a = x.alias("a")
    b = x.alias("b")
    g = (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.vec_id"))
            & (F.col("a.i") <= F.col("b.i")),
        )
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            dprod_sum(F.col("a.v"), F.col("b.v")).alias("sum_xy"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )
    s = x.groupBy("i").agg(dsum(F.col("v")).alias("sv"))
    si = s.select(F.col("i").alias("i"), F.col("sv").alias("sum_x"))
    sj = s.select(F.col("i").alias("j"), F.col("sv").alias("sum_y"))
    out = g.join(F.broadcast(si), "i").join(F.broadcast(sj), "j")
    cov = (
        F.col("sum_xy") - F.col("sum_x") * F.col("sum_y") / F.col("n_vecs")
    ) / (F.col("n_vecs") - 1)
    return out.select(
        "i", "j", "n_vecs", "sum_x", "sum_y", "sum_xy", cov.alias("cov")
    )


# ---------------------------------------------------------------------------
# Retrieval evaluation: MRR@K + hit rate per label — the metric layer
# a retrieval/embedding pipeline reports after building an index. Ranks
# come from the same bit-exact cosine ordering as q_cosine_topk;
# reciprocal ranks are fixed-point ppm integers (1e6 DIV rank), so the
# whole scorecard is integer-exact. Queries-without-a-hit contribute 0
# to the MRR sum but still count in n_queries (left join, not inner).
# ---------------------------------------------------------------------------
N_EVAL_QUERY_VECS = 20


@query(
    "q_retrieval_mrr",
    sql=f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
        FROM embeddings WHERE vec_id < {N_EVAL_QUERY_VECS}
    ),
    scored AS (
        SELECT q.q_id, q.q_label, e.vec_id, e.label,
               {cosine_sql('e.embedding', 'q.q_emb')} AS cos_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.q_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY cos_sim DESC, vec_id
        ) AS rk
        FROM scored
    ),
    hits AS (
        SELECT q_id, CAST(MIN(rk) AS BIGINT) AS first_rel
        FROM ranked
        WHERE rk <= {TOP_K} AND label = q_label
        GROUP BY q_id
    )
    SELECT q.q_label AS label,
           COUNT(*) AS n_queries,
           CAST(COUNT(h.first_rel) AS BIGINT) AS n_hits,
           CAST(COALESCE(SUM(1000000 // h.first_rel), 0) AS BIGINT)
               AS mrr_ppm_sum
    FROM q LEFT JOIN hits h USING (q_id)
    GROUP BY q.q_label
    """,
)
def q_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label MRR@K scorecard over the exact cosine ranking."""
    emb = compute_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_EVAL_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "q_label",
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("q_emb")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    hits = (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter((F.col("rk") <= TOP_K) & (F.col("label") == F.col("q_label")))
        .groupBy("q_id")
        .agg(F.min("rk").alias("first_rel"))
    )
    return (
        queries.join(hits, "q_id", "left")
        .groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count("*").alias("n_queries"),
            F.count("first_rel").alias("n_hits"),
            F.coalesce(
                F.sum(F.expr("1000000 div first_rel")), F.lit(0)
            ).cast("long").alias("mrr_ppm_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Quantized-retrieval recall: rank by cosine over DEQUANTIZED int8
# vectors (the production memory/bandwidth play — int8 storage is 4x
# smaller and the reconstruction q8*scale is what an int8 index
# actually scores with), measured as recall@K against the
# full-precision exact top-k. Per-vector symmetric scale, the same
# floor(x/scale + 0.5) clamp as q_embedding_quantize; overlap counts
# are integer-exact, so quantization's retrieval damage is measured
# under the bit-exact gate, not eyeballed.
# ---------------------------------------------------------------------------
def _recon_rank_sql(vec: str, k: int) -> str:
    return _rank_ids_sql("qrecon", f"e.{vec}", f"q.{vec}", k)


@query(
    "q_quantized_retrieval_recall",
    sql=f"""
    WITH qsc AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
               greatest(list_max(list_transform(embedding::DOUBLE[],
                                                x -> abs(x))), 1e-30) / {Q8_HI}
                   AS scale
        FROM embeddings
    ),
    qrecon AS (
        SELECT vec_id, e,
               list_transform(e,
                   x -> CAST({_q8_sql('x', 'scale')} AS DOUBLE) * scale) AS r
        FROM qsc
    ),
    full_k AS ({_recon_rank_sql('e', TOP_K)}),
    quant_k AS ({_recon_rank_sql('r', TOP_K)})
    SELECT f.q_id,
           CAST(COUNT(t.vec_id) AS BIGINT) AS n_overlap,
           (COUNT(t.vec_id) * 1.0) / {TOP_K} AS recall_at_k
    FROM full_k f
    LEFT JOIN quant_k t ON t.q_id = f.q_id AND t.vec_id = f.vec_id
    GROUP BY f.q_id
    """,
)
def q_quantized_retrieval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = compute_table(spark, sf_dir, "embeddings")
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qsc = emb.select(
        "vec_id",
        e.alias("e"),
        (
            F.greatest(
                F.array_max(F.transform(e, lambda x: F.abs(x))), F.lit(1e-30)
            )
            / Q8_HI
        ).alias("scale"),
    )
    scale = F.col("scale")
    qrecon = qsc.select(
        "vec_id",
        "e",
        F.transform(
            F.col("e"), lambda x: _q8(x, scale).cast("double") * scale
        ).alias("r"),
    )

    def topk(col_name: str) -> DataFrame:
        return _exact_rank_ids(
            qrecon,
            q_src=F.col(col_name),
            q_alias="q_vec",
            corpus_expr=F.col(col_name),
            q_expr=F.col("q_vec"),
            score_alias="s",
            k=TOP_K,
        )

    return _recall_at_k(topk("e"), topk("r"), TOP_K)


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (RRF) — the standard hybrid-retrieval
# combiner: score(d) = sum over systems of 1/(k0 + rank_sys(d)).
# Fused here: the full-dimension exact ranking and the Matryoshka
# truncated ranking (two genuinely different retrieval systems over
# the same id space). Scores are fixed-point 1e8 // (k0 + rank), so
# fusion, ordering and the final top-k are all integer-exact.
# ---------------------------------------------------------------------------
RRF_K0 = 60
RRF_DEPTH = 20
RRF_TOP = 5


def _rank_sql_for(emb_expr: str) -> str:
    return _rank_ids_sql(
        "embeddings",
        emb_expr.format(t="e"),
        emb_expr.format(t="q"),
        RRF_DEPTH,
        cols="q_id, vec_id, rk",
    )


@query(
    "q_rrf_fusion",
    sql=f"""
    WITH full_r AS ({_rank_sql_for('{t}.embedding')}),
    trunc_r AS ({_rank_sql_for(f'list_slice({{t}}.embedding, 1, {TRUNC_DIM})')}),
    fused AS (
        SELECT COALESCE(f.q_id, t.q_id) AS q_id,
               COALESCE(f.vec_id, t.vec_id) AS vec_id,
               CAST(COALESCE(100000000 // ({RRF_K0} + f.rk), 0)
                  + COALESCE(100000000 // ({RRF_K0} + t.rk), 0) AS BIGINT)
                   AS rrf_score
        FROM full_r f
        FULL OUTER JOIN trunc_r t
          ON f.q_id = t.q_id AND f.vec_id = t.vec_id
    )
    SELECT q_id, vec_id, rrf_score, CAST(fused_rank AS BIGINT) AS fused_rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY rrf_score DESC, vec_id
        ) AS fused_rank
        FROM fused
    )
    WHERE fused_rank <= {RRF_TOP}
    """,
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 RRF fusion of full-dim and truncated-dim rankings."""
    emb = compute_table(spark, sf_dir, "embeddings")

    def ranking(emb_col) -> DataFrame:
        return _exact_rank_ids(
            emb,
            q_src=F.col("embedding"),
            q_alias="q_emb",
            corpus_expr=emb_col(F.col("embedding")),
            q_expr=emb_col(F.col("q_emb")),
            score_alias="s",
            k=RRF_DEPTH,
            keep_rank=True,
        )

    full_r = ranking(lambda c: c)
    trunc_r = (
        ranking(lambda c: F.slice(c, 1, TRUNC_DIM))
        .withColumnRenamed("rk", "t_rk")
        .withColumnRenamed("q_id", "t_q_id")
        .withColumnRenamed("vec_id", "t_vec_id")
    )
    fused = full_r.join(
        trunc_r,
        (full_r.q_id == trunc_r.t_q_id) & (full_r.vec_id == trunc_r.t_vec_id),
        "full_outer",
    ).select(
        F.coalesce(F.col("q_id"), F.col("t_q_id")).alias("q_id"),
        F.coalesce(F.col("vec_id"), F.col("t_vec_id")).alias("vec_id"),
        (
            F.coalesce(
                F.expr(f"100000000 div ({RRF_K0} + rk)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"100000000 div ({RRF_K0} + t_rk)"), F.lit(0)
            )
        ).cast("long").alias("rrf_score"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("rrf_score"), F.asc("vec_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= RRF_TOP)
        .select("q_id", "vec_id", "rrf_score", "fused_rank")
    )


# ---------------------------------------------------------------------------
# Two-stage retrieval with a rerank pass — the standard production
# shape: a CHEAP first stage (truncated 16-dim cosine, 1/4 the FLOPs
# and index bytes) over-fetches RERANK_CAND candidates per query, then
# an EXPENSIVE second stage rescores only those candidates with a
# joint pair score a bi-encoder index cannot produce: full-dimension
# cosine with an L2-distance penalty (cross-encoder-style — the score
# is a function of the PAIR, not of two independent vectors). At 100 TB
# the economics are the whole point: stage 1 touches the corpus
# (broadcast queries, zero corpus shuffle, TakeOrdered reduction);
# stage 2 touches N_queries x RERANK_CAND rows — metadata-sized — so
# the expensive scorer's cost is independent of corpus size. The L2^2
# term derives purely from dot products (||a-b||^2 = a.a + b.b - 2a.b)
# evaluated in the identical order both engines, keeping every float
# bit-exact under the oracle; ranks are integers.
# ---------------------------------------------------------------------------
RERANK_CAND = 30
RERANK_LAMBDA = 0.05


@query(
    "q_rerank_two_stage",
    sql=f"""
    WITH cand AS ({_rank_ids_sql(
        'embeddings',
        f'list_slice(e.embedding, 1, {TRUNC_DIM})',
        f'list_slice(q.embedding, 1, {TRUNC_DIM})',
        RERANK_CAND,
        cols='q_id, vec_id, rk',
    )}),
    scored AS (
        SELECT c.q_id, c.vec_id, c.rk AS coarse_rk,
               ({cosine_sql('e.embedding', 'q.embedding')}
                - {RERANK_LAMBDA}
                  * (({dot_sql('e.embedding', 'e.embedding')}
                      + {dot_sql('q.embedding', 'q.embedding')}
                      - 2 * {dot_sql('e.embedding', 'q.embedding')})
                     / {DIM})) AS rerank_score
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN embeddings q ON q.vec_id = c.q_id
    )
    SELECT q_id, vec_id, CAST(coarse_rk AS BIGINT) AS coarse_rk,
           rerank_score, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY rerank_score DESC, vec_id
        ) AS rk
        FROM scored
    )
    WHERE rk <= {TOP_K}
    """,
)
def q_rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_landmarks_datalake_spark.functions.vectors import dot

    emb = compute_table(spark, sf_dir, "embeddings")
    cand = _exact_rank_ids(
        emb,
        q_src=F.col("embedding"),
        q_alias="q_emb",
        corpus_expr=F.slice(F.col("embedding"), 1, TRUNC_DIM),
        q_expr=F.slice(F.col("q_emb"), 1, TRUNC_DIM),
        score_alias="s",
        k=RERANK_CAND,
        keep_rank=True,
    ).withColumnRenamed("rk", "coarse_rk")
    # stage 2 reads full vectors ONLY for the candidate set: broadcast
    # the (N_queries x RERANK_CAND)-row candidate list into the corpus
    # scan, then broadcast the query vectors — no corpus shuffle
    corpus = emb.select(
        F.col("vec_id").alias("c_vec_id"), F.col("embedding").alias("c_emb")
    )
    qvecs = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("cq_id"), F.col("embedding").alias("cq_emb")
    )
    j = (
        corpus.join(F.broadcast(cand), F.col("c_vec_id") == F.col("vec_id"))
        .join(F.broadcast(qvecs), F.col("q_id") == F.col("cq_id"))
    )
    a, b = F.col("c_emb"), F.col("cq_emb")
    l2sq = dot(a, a) + dot(b, b) - 2 * dot(a, b)
    score = cosine(a, b) - F.lit(RERANK_LAMBDA) * (l2sq / F.lit(DIM))
    scored = j.select(
        "q_id",
        "vec_id",
        F.col("coarse_rk").cast("long").alias("coarse_rk"),
        score.alias("rerank_score"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("rerank_score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "vec_id", "coarse_rk", "rerank_score", "rk")
    )


# ---------------------------------------------------------------------------
# Product-quantization (PQ) retrieval recall — the third leg of the
# compression tier (int8 scalar / Matryoshka truncation / PQ): split
# each 64-dim vector into PQ_M=8 subvectors of PQ_SUB=8 dims, assign
# every subvector to its nearest code in a per-subspace codebook
# (deterministic corpus sample, the CENTROID_MOD idiom), and rank the
# corpus by ASYMMETRIC distance computation — full-precision query
# against the RECONSTRUCTED (code-concatenated) corpus vector, which is
# exactly what a PQ index scores with. Recall@K against the exact
# full-precision top-k; overlap counts are integer-exact under the
# bit-exact gate.
#
# 100 TB design: the whole codebook is PQ_M * PQ_K = 128 subvectors —
# one broadcast array column; assignment + reconstruction are pure
# map-side codegen over the corpus (128 8-dim dot-product-derived L2
# evaluations per vector, no shuffle, no per-centroid plan literals —
# the q_ivf_topk lesson). A real PQ index stores only the PQ_M code
# BYTES per vector (8 bytes vs 256: a 32x compression); reconstruction
# here feeds the ranking so the recall measurement needs no lookup
# tables. L2^2 derives from dot products evaluated in the identical
# order both engines (the rerank idiom), keeping the argmin bit-exact.
# ---------------------------------------------------------------------------
PQ_M = 8
PQ_SUB = 8
PQ_K = 16
PQ_CODE_MOD = 25


def _pq_l2_sql(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
        f" - 2 * list_dot_product({a}, {b}))"
    )


@query(
    "q_pq_retrieval_recall",
    sql=f"""
    WITH ms AS (SELECT unnest(range({PQ_M})) AS m),
    codes AS (
        SELECT ms.m, vec_id AS c_id,
               list_transform(range(1 + ms.m * {PQ_SUB},
                                    1 + (ms.m + 1) * {PQ_SUB}),
                              i -> embedding[i]::DOUBLE) AS sub
        FROM embeddings, ms
        WHERE vec_id % {PQ_CODE_MOD} = 0
          AND vec_id < {PQ_CODE_MOD * PQ_K}
    ),
    subs AS (
        SELECT e.vec_id, ms.m,
               list_transform(range(1 + ms.m * {PQ_SUB},
                                    1 + (ms.m + 1) * {PQ_SUB}),
                              i -> e.embedding[i]::DOUBLE) AS sub
        FROM embeddings e, ms
    ),
    assign AS (
        SELECT vec_id, m, sub_c FROM (
            SELECT s.vec_id, s.m, c.sub AS sub_c,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.m
                       ORDER BY {_pq_l2_sql('s.sub', 'c.sub')} ASC, c.c_id ASC
                   ) AS rn
            FROM subs s JOIN codes c ON c.m = s.m
        ) WHERE rn = 1
    ),
    rec AS (
        SELECT vec_id, flatten(list(sub_c ORDER BY m)) AS r
        FROM assign GROUP BY vec_id
    ),
    pqrecon AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS e, rec.r
        FROM embeddings e JOIN rec USING (vec_id)
    ),
    full_k AS ({_rank_ids_sql('pqrecon', 'e.e', 'q.e', TOP_K)}),
    pq_k AS ({_rank_ids_sql('pqrecon', 'e.r', 'q.e', TOP_K)})
    SELECT f.q_id,
           CAST(COUNT(t.vec_id) AS BIGINT) AS n_overlap,
           (COUNT(t.vec_id) * 1.0) / {TOP_K} AS recall_at_k
    FROM full_k f
    LEFT JOIN pq_k t ON t.q_id = f.q_id AND t.vec_id = f.vec_id
    GROUP BY f.q_id
    """,
)
def q_pq_retrieval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_landmarks_datalake_spark.functions.vectors import dot

    emb = compute_table(spark, sf_dir, "embeddings")
    e_dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # per-subspace codebook: PQ_M * PQ_K rows -> ONE broadcast array
    codes_rows = (
        emb.filter(
            (F.col("vec_id") % PQ_CODE_MOD == 0)
            & (F.col("vec_id") < PQ_CODE_MOD * PQ_K)
        )
        .select(F.col("vec_id").alias("c_id"), e_dbl.alias("ce"))
        .select(
            "c_id",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
            F.col("ce"),
        )
        .select(
            "m",
            "c_id",
            F.slice(F.col("ce"), F.col("m") * PQ_SUB + 1, PQ_SUB).alias("sub"),
        )
    )
    codes_arr = codes_rows.agg(
        F.array_sort(F.collect_list(F.struct("m", "c_id", "sub"))).alias("codes")
    )

    def _best_sub(m: Column) -> Column:
        """Nearest code's subvector for subspace ``m`` — argmin L2 via
        array_max over (-d, -c_id, sub) structs (min distance, ties to
        the smallest code id, matching the oracle's ORDER BY)."""
        sub_e = F.slice(F.col("e"), m * PQ_SUB + 1, PQ_SUB)
        return F.array_max(
            F.transform(
                F.filter(F.col("codes"), lambda c: c["m"] == m),
                lambda c: F.struct(
                    (
                        -(
                            (dot(sub_e, sub_e) + dot(c["sub"], c["sub"]))
                            - F.lit(2.0) * dot(sub_e, c["sub"])
                        )
                    ).alias("neg_d"),
                    (-c["c_id"]).alias("neg_id"),
                    c["sub"].alias("sub"),
                ),
            )
        )["sub"]

    recon = (
        emb.select("vec_id", e_dbl.alias("e"))
        .crossJoin(F.broadcast(codes_arr))
        .select(
            "vec_id",
            "e",
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.lit(PQ_M - 1)), _best_sub
                )
            ).alias("r"),
        )
    )

    def topk(corpus_col: str) -> DataFrame:
        return _exact_rank_ids(
            recon,
            q_src=F.col("e"),
            q_alias="q_vec",
            corpus_expr=F.col(corpus_col),
            q_expr=F.col("q_vec"),
            score_alias="s",
            k=TOP_K,
        )

    return _recall_at_k(topk("e"), topk("r"), TOP_K)


# ---------------------------------------------------------------------------
# Hard-negative mining — the triplet-construction step of contrastive
# embedding training: for each anchor, the nearest SAME-label vector
# (the positive) and the top-HN_NEGS nearest DIFFERENT-label vectors
# (the hard negatives — the ones a triplet/InfoNCE loss actually learns
# from), plus the triplet margin pos_cos - neg_cos (negative margin =
# an active violation, the triplets worth training on). Mining is the
# data-scale half of contrastive training; the gradient step consumes
# the metadata-sized output.
#
# 100 TB design: anchors are a broadcast mini-batch (the production
# shape — mining runs per training batch, never corpus x corpus);
# scoring is map-side codegen over the corpus with zero corpus shuffle;
# the only reductions are the two per-anchor top-k windows over the
# already-scored stream. Cosines are bit-exact (identical-order float64
# dot products), ranks and ids integer-exact.
# ---------------------------------------------------------------------------
HN_ANCHORS = 10
HN_NEGS = 3


@query(
    "q_hard_negative_mining",
    sql=f"""
    WITH a AS (
        SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
        FROM embeddings WHERE vec_id < {HN_ANCHORS}
    ),
    scored AS (
        SELECT a.q_id, a.q_label, e.vec_id, e.label,
               {cosine_sql('e.embedding', 'a.q_emb')} AS cos_sim
        FROM embeddings e CROSS JOIN a
        WHERE e.vec_id <> a.q_id
    ),
    pos AS (
        SELECT q_id, vec_id AS pos_id, cos_sim AS pos_cos FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY cos_sim DESC, vec_id
            ) AS rn
            FROM scored WHERE label = q_label
        ) WHERE rn = 1
    ),
    neg AS (
        SELECT q_id, vec_id AS neg_id, cos_sim AS neg_cos,
               CAST(rn AS BIGINT) AS neg_rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY cos_sim DESC, vec_id
            ) AS rn
            FROM scored WHERE label <> q_label
        ) WHERE rn <= {HN_NEGS}
    )
    SELECT n.q_id, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos, n.neg_rank,
           (p.pos_cos - n.neg_cos) AS margin
    FROM neg n JOIN pos p USING (q_id)
    """,
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = compute_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < HN_ANCHORS).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "q_label",
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("q_emb")).alias("cos_sim"),
        )
        .localCheckpoint(eager=False)  # feeds both the pos and neg rank
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    pos = (
        scored.filter(F.col("label") == F.col("q_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "q_id",
            F.col("vec_id").alias("pos_id"),
            F.col("cos_sim").alias("pos_cos"),
        )
    )
    neg = (
        scored.filter(F.col("label") != F.col("q_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= HN_NEGS)
        .select(
            "q_id",
            F.col("vec_id").alias("neg_id"),
            F.col("cos_sim").alias("neg_cos"),
            F.col("rn").cast("long").alias("neg_rank"),
        )
    )
    return neg.join(F.broadcast(pos), "q_id").select(
        "q_id",
        "pos_id",
        "pos_cos",
        "neg_id",
        "neg_cos",
        "neg_rank",
        (F.col("pos_cos") - F.col("neg_cos")).alias("margin"),
    )
