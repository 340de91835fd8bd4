"""Cross-engine deterministic hashing primitives.

Spark's ``hash()`` (Murmur3) and DuckDB's ``hash()`` disagree, so every
hash that feeds an oracle-checked result is built from ``md5`` — which
both engines compute identically on UTF-8 strings — truncated to 15 hex
digits (60 bits, always fits a signed int64).

Spark side:   conv(substring(md5(s), 1, 15), 16, 10) :: long
DuckDB side:  ('0x' || substr(md5(s), 1, 15)) :: BIGINT

MinHash coefficients are derived from a fixed LCG so the same literal
constants are embedded in both the Spark plan and the generated oracle
SQL. All modular arithmetic stays below 2^62 (p < 2^31, operands < p, a*x
< 2^62) so int64 never overflows in either engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31 - 1 — modulus for MinHash universal hashing.
MERSENNE_P = 2_147_483_647


def md5_long(col: Column) -> Column:
    """60-bit integer hash of a string column (JVM-side, codegen'd)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB SQL producing the identical value as :func:`md5_long`."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a_i*x + b_i) mod p.

    Plain LCG seeded with 42; a_i forced odd and nonzero. Pure Python on
    the driver — the constants are baked into both engines' plans as
    literals.
    """
    coeffs = []
    state = 42
    for _ in range(num_hashes):
        state = (1103515245 * state + 12345) % MERSENNE_P
        a = state | 1
        state = (1103515245 * state + 12345) % MERSENNE_P
        b = state
        coeffs.append((a, b))
    return coeffs
