"""End-to-end landmarks pipeline over a committed generated fixture
(``tests/fixtures``, written by ``tools/gen_lake_fixture.py``) and, when
present, the reference's own fixture."""

from __future__ import annotations

import json
import os

import pytest

from nyc_landmarks_datalake_spark.pipelines import (
    designations_per_year,
    ingest_landmarks,
    landmarks_per_borough,
    largest_landmarks,
)

REF_CSV = "/root/reference/src/test/resources/testData.csv"
REF_SCHEMA = "/root/reference/src/test/resources/testSchema.json"
GEN_DIR = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module", params=["generated", "reference"])
def silver(request, spark, tmp_path_factory):
    """(silver DataFrame, golden values) per landmarks fixture; the
    generated fixture's golden values are its generator's truth."""
    if request.param == "reference":
        if not os.path.exists(REF_CSV):
            pytest.skip("reference fixture absent")
        csv, sidecar, golden = REF_CSV, REF_SCHEMA, {"rows": 144}
    else:
        csv = os.path.join(GEN_DIR, "landmarks.csv")
        sidecar = os.path.join(GEN_DIR, "schemas", "landmarks.json")
        with open(os.path.join(GEN_DIR, "landmarks_truth.json")) as f:
            golden = json.load(f)
    d = tmp_path_factory.mktemp("landmarks_silver")
    return ingest_landmarks(spark, csv, sidecar, str(d / "silver")), golden


def test_per_borough_counts(silver):
    silver, golden = silver
    rows = landmarks_per_borough(silver).collect()
    assert sum(r["n_landmarks"] for r in rows) == golden["rows"]
    boroughs = {r["BOROUGH"] for r in rows}
    assert boroughs <= {"MN", "BK", "QN", "BX", "SI"}
    # ordered descending
    counts = [r["n_landmarks"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    if "per_borough" in golden:
        assert [list(r) for r in rows] == golden["per_borough"]


def test_designation_years_parse(silver):
    silver, golden = silver
    rows = designations_per_year(silver).collect()
    assert rows, "no DESIG_DATE parsed — date format regression"
    years = [r["desig_year"] for r in rows]
    assert years == sorted(years)
    if "designations_per_year" in golden:
        assert [list(r) for r in rows] == golden["designations_per_year"]
    else:
        assert all(1960 <= y <= 2020 for y in years), years


def test_largest_landmarks(silver):
    silver, golden = silver
    rows = largest_landmarks(silver, k=5).collect()
    assert len(rows) == 5
    areas = [r["shape_area"] for r in rows]
    assert areas == sorted(areas, reverse=True)
    assert all(a > 0 for a in areas)
    if "largest_5" in golden:
        assert [list(r) for r in rows] == golden["largest_5"]


def test_merge_upsert_edge_cases(spark):
    from nyc_landmarks_datalake_spark.operators.merge import keep_latest, merge_upsert

    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    empty = spark.createDataFrame([], base.schema)
    # empty updates → base unchanged
    assert sorted(tuple(r) for r in merge_upsert(base, empty, ["k"]).collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    # full overlap → updates win completely
    upd = spark.createDataFrame([(1, "A"), (2, "B")], ["k", "v"])
    assert sorted(tuple(r) for r in merge_upsert(base, upd, ["k"]).collect()) == [
        (1, "A"),
        (2, "B"),
    ]
    # keep_latest ties broken by the last order column
    log = spark.createDataFrame(
        [(1, 5, "x"), (1, 5, "y"), (1, 4, "z")], ["k", "ver", "v"]
    )
    got = keep_latest(log, ["k"], ["ver", "v"]).collect()
    assert [(r["k"], r["ver"], r["v"]) for r in got] == [(1, 5, "y")]


def test_cli_list_and_run(capsys):
    from nyc_landmarks_datalake_spark.cli import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out
    # since r6 every registered query has a DuckDB oracle, so the
    # [rows-only] marker must NOT appear
    assert "[rows-only]" not in out

    assert (
        main(["run", "q_having_nations", "--sf-dir", "/root/testdata/sf0.001", "-n", "3"])
        == 0
    )
    out = capsys.readouterr().out
    assert "n_name" in out or "nation" in out.lower()

    assert main(["run", "no_such_query"]) == 2


def test_gap_fill_conserves_events(spark, sf_small):
    from pyspark.sql import functions as F

    from nyc_landmarks_datalake_spark import registry
    from nyc_landmarks_datalake_spark.sources.catalog import table

    registry.load_all()
    dense = registry.QUERIES["q_gap_fill"](spark, sf_small)
    total = dense.agg(F.sum("n_events")).collect()[0][0]
    assert total == table(spark, sf_small, "events").count()
    # and it really densifies: zero-filled slots exist
    assert dense.filter(F.col("n_events") == 0).count() > 0


def test_connected_components_jump_equivalence(spark):
    from nyc_landmarks_datalake_spark.operators.graph import connected_components

    # a 20-vertex chain (diameter 19 — the jump variant's motivation)
    # plus a disjoint triangle.
    chain = [(i, i + 1) for i in range(19)]
    tri = [(20, 21), (21, 22), (20, 22)]
    pairs = spark.createDataFrame(chain + tri, ["doc1", "doc2"])
    plain = sorted(
        tuple(r) for r in connected_components(pairs, algorithm="plain").collect()
    )
    jump = sorted(
        tuple(r) for r in connected_components(pairs, algorithm="jump").collect()
    )
    assert plain == jump
    assert all(c == 0 for _, c in plain[:20])
    assert all(c == 20 for _, c in plain[20:])


def test_dup_clusters_converges_fast(spark, sf_oracle):
    """Convergence pin for the bench's most expensive query: the dedup
    cluster graph (LSH near-dup pairs + exact-dup star edges) is
    quasi-clique shaped and must label-propagate to a fixpoint in <= 4
    rounds under algorithm='auto' — iteration creep here is a silent
    bench regression, so it fails loudly instead."""
    from nyc_landmarks_datalake_spark.operators.graph import (
        _dup_pairs,
        connected_components,
    )

    stats: dict = {}
    labels = connected_components(
        _dup_pairs(spark, sf_oracle), algorithm="auto", stats=stats
    )
    assert labels.count() > 0
    assert stats["iterations"] <= 4, stats
    assert stats["changed"][-1] == 0, f"did not converge: {stats}"
