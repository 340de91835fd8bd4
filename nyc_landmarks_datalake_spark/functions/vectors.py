"""Vector math over ``array<float>`` columns — pure built-in expressions.

Everything here stays JVM-side (whole-stage codegen): ``zip_with`` /
``aggregate`` higher-order functions, no Python UDFs. Accumulation is
sequential left-to-right in float64, matching DuckDB's
``list_dot_product`` on ``DOUBLE[]`` operands bit-for-bit, which is what
makes cosine similarity oracle-checkable without tolerance hacks.

At 100 TB scale the pattern is: broadcast the (small) query-vector side,
keep the big side partition-local, and compute dot products inside
codegen — zero shuffle for scoring; only the final top-k reduction
shuffles (and that is a partial-aggregated TakeOrdered, not a full sort).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential float64 dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


#: denominator floor for cosine: a zero-norm (failed/padded) embedding
#: would make norm(a)*norm(b) = 0.0, which under Spark 4's ANSI default
#: aborts the whole job with DIVIDE_BY_ZERO while DuckDB yields NULL.
#: Flooring the product at 1e-30 (the q_embedding_quantize idiom,
#: mirrored into the SQL side) is bit-identical for every real vector
#: (any nonzero float32 lane gives a product far above 1e-30) and maps
#: degenerate vectors to cosine 0.0 — "similar to nothing" — in BOTH
#: engines instead of crashing one and NULLing the other.
COSINE_DENOM_FLOOR = 1e-30


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.greatest(norm(a) * norm(b), F.lit(COSINE_DENOM_FLOOR))


def cent_scored(emb: Column) -> Column:
    """(cos, -c_id) structs of ``emb`` against each centroid of the
    attached ``cents`` array of (c_id, c_emb) structs, so ``array_max``
    picks the nearest centroid with ties to the smallest c_id. One
    transform lambda regardless of the centroid count: inlining each
    centroid as a plan literal multiplies the codegen by k and falls out
    of whole-stage codegen (measured 7x on q_ivf_topk)."""
    return F.transform(
        F.col("cents"),
        lambda c: F.struct(
            cosine(emb, c["c_emb"]).alias("cos"),
            (-c["c_id"]).alias("neg_id"),
        ),
    )


def dot_sql(a: str, b: str) -> str:
    """DuckDB equivalent of :func:`dot` (force float64 operands)."""
    return f"list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[])"


def norm_sql(a: str) -> str:
    return f"sqrt(list_dot_product(({a})::DOUBLE[], ({a})::DOUBLE[]))"


def cosine_sql(a: str, b: str) -> str:
    return (
        f"({dot_sql(a, b)} / greatest({norm_sql(a)} * {norm_sql(b)}, "
        f"{COSINE_DENOM_FLOOR}))"
    )
