"""The r17 broadcast size-guards: forcing every gated hint OVER its
threshold must (a) change nothing about the results and (b) actually
exercise the shuffle-join fallback branch (no BroadcastHashJoin where
the hint would have forced one). This pins the 100 TB degradation path
the guards exist for — at test sf the gates always broadcast, so
without these tests the fallback branch would ship unexecuted."""

from __future__ import annotations

import pytest

from nyc_landmarks_datalake_spark import registry
from nyc_landmarks_datalake_spark.functions import bcast as bcast_mod
from nyc_landmarks_datalake_spark.operators import graph as graph_mod
from nyc_landmarks_datalake_spark.operators import linkage as linkage_mod

registry.load_all()


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _force_over_threshold(monkeypatch) -> None:
    """Push every r17 gate below any real row count."""
    monkeypatch.setattr(bcast_mod, "BCAST_MAX_ROWS", 0)
    monkeypatch.setattr(linkage_mod, "_GAMMA_BCAST_ROWS", 0)


@pytest.mark.parametrize(
    "name",
    [
        "q_triangle_count",
        "q_degree_assortativity",
        "q_link_prediction",
        "q_soft_dedup_weights",
        "q_linkage_weights",
        "q_record_linkage",
    ],
)
def test_over_threshold_fallback_matches(spark, sf_small, monkeypatch, name):
    ref = _rows(registry.QUERIES[name](spark, sf_small))
    _force_over_threshold(monkeypatch)
    assert _rows(registry.QUERIES[name](spark, sf_small)) == ref


def test_over_threshold_actually_degrades_to_shuffle_join(
    spark, sf_small, monkeypatch
):
    """The assortativity degree joins are the cleanest probe: with the
    gate forced to 0 the V-row build sides lose their hint and the
    pre-aggregation joins must plan as shuffle joins, not broadcasts."""
    _force_over_threshold(monkeypatch)
    df = registry.QUERIES["q_degree_assortativity"](spark, sf_small)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _join_nodes(plan: str, join_type: str) -> list[str]:
    """Operator names of the formatted plan's joins of ``join_type``."""
    return [
        node.split("\n", 1)[0]
        for node in plan.split("\n(")
        if f"Join type: {join_type}" in node
    ]


def test_chunked_link_prediction_anti_join_is_gated(spark, sf_small, monkeypatch):
    """The chunk filter keeps about E/C edges, but only the edge list's
    count bounds them: over the gate the chunked anti-join must plan as a
    shuffle join and still return the same rows."""
    ref = _rows(graph_mod.link_prediction_frame(spark, sf_small, chunk=(1, 3)))
    _force_over_threshold(monkeypatch)
    df = graph_mod.link_prediction_frame(spark, sf_small, chunk=(1, 3))
    anti = _join_nodes(_plan(df), "LeftAnti")
    assert anti and not any("Broadcast" in node for node in anti), anti
    assert _rows(df) == ref


def test_under_threshold_keeps_broadcast(spark, sf_small):
    """Unpatched (test sf is far under every gate) the hint fires: the
    assortativity plan carries the broadcast joins the r16 optimization
    installed — the guard must not cost the small-side fast path."""
    df = registry.QUERIES["q_degree_assortativity"](spark, sf_small)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bcast_if_over_threshold_is_identity():
    """One past the limit the frame is returned unwrapped — the
    cheapest possible over-threshold check, no Spark needed."""

    class _Probe:
        pass

    probe = _Probe()
    assert bcast_mod.bcast_if(probe, 5, limit=4) is probe  # type: ignore[arg-type]
