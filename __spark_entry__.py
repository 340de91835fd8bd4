"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` maps
every implemented operator (SURVEY.md §2) to a (spark, sf_dir) →
DataFrame callable; ``oracle_sql()`` gives the DuckDB-equivalent SQL the
driver compares against at sf0.01.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from nyc_landmarks_datalake_spark import registry

registry.load_all()

SF0001_DIR = "/root/testdata/sf0.001"
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))


def _verified_names() -> set[str]:
    """Query names with a fully-green driver CORRECTNESS row in any past round.

    The driver verifies a bounded prefix of ``queries()`` per round, so we
    rotate: queries that already have an independent green row yield their
    slot to ones that don't. Orderings only — names and semantics are stable.
    """
    green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            # Green = ran without error and every recorded *_match flag is
            # true. At least one flag must actually be present — a row
            # whose comparison never produced flags is NOT verified.
            flags = [
                v for k, v in row.items() if k.endswith("_match") and v is not None
            ]
            if row.get("err") is None and flags and all(flags):
                green.add(name)
    return green - REVERIFY


#: queries whose implementation or oracle changed since their last green
#: driver row — their stale green flags must not excuse them from the
#: checked prefix. Maintained per round; clear entries once re-verified.
REVERIFY: frozenset[str] = frozenset(
    {
        # r16's 15 entries all re-greened in CORRECTNESS_r16 — cleared.
        # r17 optimization round: plans restructured for performance
        # (results proven hash-identical to the committed oracles at
        # sf0.001 AND sf0.01 before landing — see OPTIMIZATION_r17.md),
        # but the implementation text changed, so the driver re-checks:
        # size-guarded broadcast hints (runtime-count gates) on the
        # co-purchase graph family, the soft-dedup attachments, the
        # linkage gamma attachments (+ equal-name levenshtein
        # short-circuit) and the link-prediction anti-join/top-K…
        "q_triangle_count",
        "q_degree_assortativity",
        "q_link_prediction",
        "q_soft_dedup_weights",
        "q_record_linkage",
        "q_linkage_weights",
        # …the iterative loops fuse the per-round convergence count
        # into the (now lazy) checkpoint materialization, and the
        # Brandes backward pass accumulates per depth slice…
        "q_kcore_decomposition",
        "q_label_propagation",
        "q_harmonic_centrality",
        "q_closeness_eccentricity",
        "q_distance_distribution",
        "q_betweenness_sketch",
        "q_dup_clusters",
        "q_dedup_apply",
        # …and capped_bucket_pairs computes the bucket count and the
        # chain lead in ONE window pass, touching every LSH pair
        # consumer (q_image_phash_dedup reaches it through
        # banded_hamming_pairs).
        "q_dedup_minhash_lsh",
        "q_minhash_calibration",
        "q_lsh_recall_census",
        "q_dedup_simhash_hamming",
        "q_domain_dedup_cascade",
        "q_semantic_dedup",
        "q_embedding_neardup",
        "q_curation_pipeline_e2e",
        "q_image_phash_dedup",
        # compaction now commits through the txtable log (optimize +
        # vacuum) instead of a directory swap.
        "q_compaction_census",
        # the orders MERGE scenario and its oracle CTEs are defined once
        # in operators/merge.py (same oracle text after whitespace
        # normalization; hash-identical at sf0.001 and sf0.01).
        "q_merge_upsert",
        "q_txlog_merge",
        "q_txlog_time_travel",
        "q_txlog_changes",
        "q_incremental_mv_refresh",
        # every finite streaming replay now runs through the one
        # stage/file_stream/replay protocol in streaming/guard.py
        # (hash-identical at sf0.001 and sf0.01); replay then also
        # materializes the result and removes its staging dir before
        # it returns (hash-identical at sf0.001 and sf0.01 again).
        "q_stream_dedup",
        "q_stream_dedup_watermarked",
        "q_stateful_user_profiles",
        "q_stream_tumbling_replay",
        "q_stream_sliding_replay",
        "q_stream_session_replay",
        "q_stream_interval_join",
        "q_stream_static_join",
        "q_stream_semi_join",
        "q_stream_outer_join",
        "q_stream_full_outer_join",
        "q_stream_join_windowed",
        "q_stream_ingest_dedup",
        "q_stream_mv_upsert",
        # copied query scaffolds are written once: the purchase-graph
        # pairs and two-way edges, the co-purchase edges, the drift
        # census, the one fixed-point ln chain (renamed chain columns in
        # the q_psi_drift and q_link_prediction oracles) and the GIF
        # walk / image format dispatch (hash-identical at sf0.001 and
        # sf0.01, same plan audit counts).
        "q_pagerank_purchases",
        "q_bfs_hops",
        "q_degree_distribution",
        "q_psi_drift",
        "q_js_drift",
        "q_kl_drift",
        "q_image_decode_stats",
        "q_png_decode_stats",
        "q_gif_decode_stats",
        "q_jpeg_decode_stats",
        "q_image_resize_stats",
        "q_gif_frame_sample",
        # the text-pipeline scaffolds are written once too: the capped
        # inverted index and its oracle CTEs, the kept-set verification
        # join, the band structs, the classifier's training loop, scorer,
        # confusion census and oracle CTE builders, the shared label pass
        # of DSIR and the bigram-LM oracle CTEs (oracle texts unchanged
        # after whitespace normalization; hash-identical at sf0.001 and
        # sf0.01). The LSH, domain-cascade and stream-ingest consumers
        # are listed above already.
        "q_dedup_ngram_jaccard",
        "q_dedup_jaccard_wide",
        "q_dedup_containment",
        "q_quality_clf_train",
        "q_quality_clf_apply",
        "q_quality_clf_eval",
        "q_quality_clf_model_select",
        "q_quality_clf_cv",
        "q_clf_calibration",
        "q_dsir_importance",
        "q_dsir_select_topk",
        "q_ngram_lm_score",
        "q_perplexity_buckets",
    }
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H Q1-style pricing summary: scan → pushed filter → hash agg with
    decimal-exact sums — 6 groups with stable schema at every sf.
    """
    return registry.QUERIES["q01_pricing_summary"](spark, SF0001_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered so queries without a past green driver CORRECTNESS row come
    first (the driver checks a bounded prefix per round). Among the
    unverified, OLDER queries outrank newer ones (query_manifest.json
    records the round each name was registered) so additions never push
    long-waiting queries out of the checked prefix; ties keep
    registration order. Names and semantics never change.
    """
    green = _verified_names()
    try:
        with open(os.path.join(_REPO_DIR, "query_manifest.json")) as f:
            first_round = json.load(f)
    except (OSError, ValueError):
        first_round = {}
    # never-verified queries (of ANY round) outrank re-verifications,
    # which once held a green row on an older implementation
    ordered = sorted(
        registry.QUERIES,
        key=lambda name: (
            name in green,
            name in REVERIFY,
            first_round.get(name, 99),
        ),
    )
    return {name: registry.QUERIES[name] for name in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each oracle-checkable query."""
    return dict(registry.ORACLE)
