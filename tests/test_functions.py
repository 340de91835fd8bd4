"""Unit checks for the cross-engine primitives."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.functions.hashing import (
    MERSENNE_P,
    md5_long,
    minhash_coeffs,
)
from nyc_landmarks_datalake_spark.functions.numeric import dprod_sum
from nyc_landmarks_datalake_spark.functions.vectors import cosine, dot, norm


def test_md5_long_matches_hashlib(spark):
    words = ["hello", "spark", "", "MULTIPOLYGON", "café"]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    got = {r["w"]: r["h"] for r in df.select("w", md5_long(F.col("w")).alias("h")).collect()}
    for w in words:
        expected = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
        assert got[w] == expected, w


def test_minhash_coeffs_deterministic_and_valid():
    a = minhash_coeffs(16)
    b = minhash_coeffs(16)
    assert a == b
    assert len(set(a)) == 16
    for ai, bi in a:
        assert 0 < ai < MERSENNE_P and ai % 2 == 1
        assert 0 <= bi < MERSENNE_P


def test_dprod_sum_checked_fails_loud_past_the_operand_bound(spark):
    """In range, the checked form sums the same products; an operand at
    PROD_OPERAND_BOUND raises an error naming the guard instead."""
    ok = spark.createDataFrame([(1.5, 2.0), (3.25, -4.0)], "x double, y double")
    for checked in (False, True):
        got = ok.agg(dprod_sum(F.col("x"), F.col("y"), checked=checked)).first()[0]
        assert got == -10.0
    bad = spark.createDataFrame([(1e12, 1.0)], "x double, y double")
    with pytest.raises(Exception, match="out of decimal"):
        bad.agg(dprod_sum(F.col("x"), F.col("y"), checked=True)).collect()


def test_vector_ops_match_numpy(spark):
    rng = np.random.default_rng(7)
    a = rng.normal(size=16).astype("float32")
    b = rng.normal(size=16).astype("float32")
    df = spark.createDataFrame([(a.tolist(), b.tolist())], ["a", "b"])
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("dot"),
        norm(F.col("a")).alias("na"),
        cosine(F.col("a"), F.col("b")).alias("cos"),
    ).collect()[0]
    ad, bd = a.astype("float64"), b.astype("float64")
    assert math.isclose(row["dot"], float(ad @ bd), rel_tol=1e-12)
    assert math.isclose(row["na"], float(np.sqrt(ad @ ad)), rel_tol=1e-12)
    expected_cos = float((ad @ bd) / (np.sqrt(ad @ ad) * np.sqrt(bd @ bd)))
    assert math.isclose(row["cos"], expected_cos, rel_tol=1e-12)


def test_cosine_zero_norm_does_not_crash(spark):
    """A zero-norm (failed/padded) embedding must score 0.0, not abort
    the job with ANSI DIVIDE_BY_ZERO (r8 review; guard in vectors.py).
    Both engines agree: the SQL mirror carries the same floor."""
    import duckdb

    from nyc_landmarks_datalake_spark.functions.vectors import cosine_sql

    z = [0.0] * 8
    v = [1.0] * 8
    df = spark.createDataFrame([(z, v)], ["a", "b"])
    row = df.select(
        cosine(F.col("a"), F.col("b")).alias("zz"),
        cosine(F.col("b"), F.col("b")).alias("vv"),
    ).collect()[0]
    assert row["zz"] == 0.0
    assert math.isclose(row["vv"], 1.0, rel_tol=1e-12)
    got = duckdb.sql(
        f"SELECT {cosine_sql('[0.0,0.0]', '[1.0,1.0]')} AS zz"
    ).fetchone()[0]
    assert got == 0.0


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() >= 0
    qs, osql = E.queries(), E.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 39


def test_spatial_grid_join_exact_pairs(spark):
    """Grid-bucketed containment join emits each matching pair EXACTLY
    once (a point lives in one cell), including boxes spanning many
    cells, and matches the brute-force reference join."""
    from nyc_landmarks_datalake_spark.operators.geometry_ops import (
        spatial_grid_join,
    )

    points = spark.createDataFrame(
        [(i, (i * 37) % 100, (i * 59) % 80) for i in range(200)],
        ["point_id", "x", "y"],
    )
    # box 0 spans the whole plane (many cells); others are small
    boxes = spark.createDataFrame(
        [(0, 0, 0, 99, 79), (1, 10, 10, 29, 19), (2, 95, 75, 99, 79)],
        ["box_id", "xmin", "ymin", "xmax", "ymax"],
    )
    got = sorted(
        (r["point_id"], r["box_id"])
        for r in spatial_grid_join(points, boxes, cell=16).collect()
    )
    pts = [(i, (i * 37) % 100, (i * 59) % 80) for i in range(200)]
    bxs = [(0, 0, 0, 99, 79), (1, 10, 10, 29, 19), (2, 95, 75, 99, 79)]
    want = sorted(
        (pid, bid)
        for pid, x, y in pts
        for bid, x0, y0, x1, y1 in bxs
        if x0 <= x <= x1 and y0 <= y <= y1
    )
    assert got == want
    assert len(got) == len(set(got))  # no duplicate pairs


def test_rep_metrics_fold_matches_brute_force_and_scales(spark):
    """The sorted-run repetition fold (textops._rep_metrics_expr) is
    value-identical to brute-force counting, and — the r9 verdict's scale
    requirement — a single >=50k-token document completes in seconds
    (the replaced nested-filter form was O(k^2): ~2.5e9 comparisons)."""
    import random
    import time
    from collections import Counter

    from nyc_landmarks_datalake_spark.operators.textops import _rep_metrics_expr

    rng = random.Random(42)
    rows = [
        ([rng.choice("abcd") for _ in range(rng.randint(0, 15))],)
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "g: array<string>")
    got = df.selectExpr("g", _rep_metrics_expr("g") + " AS m").collect()
    for r in got:
        c = Counter(r.g)
        dup = sum(v for v in c.values() if v >= 2)
        best = max(c.values()) if c else 0
        assert (r.m.dup, r.m.best) == (dup, best), r.g

    toks = [str(rng.randint(0, 500)) for _ in range(50_000)]
    big = spark.createDataFrame([(toks,)], "g: array<string>")
    t0 = time.time()
    m = big.selectExpr(_rep_metrics_expr("g") + " AS m").collect()[0].m
    elapsed = time.time() - t0
    c = Counter(toks)
    assert m.dup == sum(v for v in c.values() if v >= 2)
    assert m.best == max(c.values())
    assert elapsed < 30, f"50k-token doc took {elapsed:.1f}s"


def test_bpe_replace_semantics_match(spark):
    """The BPE merge rewrite depends on Spark and DuckDB `replace`
    sharing left-to-right non-overlapping literal semantics — fuzz the
    two-sweep rewrite over random symbol strings in both engines."""
    import random

    import duckdb

    from nyc_landmarks_datalake_spark.operators.bpe import (
        _REWRITE,
        _REWRITE_SQL,
    )

    rng = random.Random(11)
    rows = []
    for _ in range(300):
        syms = [rng.choice("ab") for _ in range(rng.randint(1, 10))]
        pair = f"{rng.choice('ab')}|{rng.choice('ab')}"
        rows.append(("|" + "|".join(syms) + "|", pair))
    sdf = spark.createDataFrame(rows, "enc STRING, pair STRING")
    got_spark = [
        r["r"] for r in sdf.select(F.expr(_REWRITE).alias("r")).collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            f"SELECT {_REWRITE_SQL} FROM (SELECT ? AS enc, ? AS pair)",
            [enc, pair],
        ).fetchone()[0]
        for enc, pair in rows
    ]
    assert got_spark == got_duck


def test_exact_quantiles_bucketed_fuzz(spark, tmp_path):
    """The two-pass bucketed quantile must equal brute-force
    percentile_disc (k = ceil(n*q)) on adversarial inputs: heavy ties,
    constant groups, single-row groups."""
    import math
    import random

    from nyc_landmarks_datalake_spark import registry

    registry.load_all()
    rng = random.Random(5)
    rows = []
    for g, shape in enumerate(["ties", "const", "single", "mixed"]):
        if shape == "ties":
            vals = [float(rng.choice([1, 2, 2, 2, 3])) for _ in range(57)]
        elif shape == "const":
            vals = [42.0] * 31
        elif shape == "single":
            vals = [7.5]
        else:
            vals = [rng.uniform(0, 100) for _ in range(83)]
        rows += [(1000 + g, f"type{g}", 0, v) for v in vals]
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array([r[1] for r in rows]),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "ts": pa.array([0] * len(rows), pa.timestamp("us")),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(t, str(tmp_path / "events.parquet"))
    # the fixture dir only needs events for this query
    got = {
        r["event_type"]: r
        for r in registry.QUERIES["q_exact_quantiles_bucketed"](
            spark, str(tmp_path)
        ).collect()
    }
    byg: dict[str, list[float]] = {}
    for _eid, g, _u, v in rows:
        byg.setdefault(g, []).append(v)
    for g, vals in byg.items():
        vals.sort()
        n = len(vals)
        for q, col in ((0.25, "p25"), (0.5, "p50"), (0.9, "p90")):
            want = vals[math.ceil(n * q) - 1]
            assert got[g][col] == want, (g, col, got[g][col], want)
        assert got[g]["n_rows"] == n
