"""Decomposed sf10 verification for the oracle-intractable tail
(VERDICT r7 #4).

The recursive-CTE connected-components oracle behind q_dup_clusters /
q_dedup_apply enumerates (doc, label) reachability pairs transitively —
quadratic inside clusters and unbounded-iteration — and ran >1h at sf10
before being cut in r7. This tool verifies the SAME queries at sf10 with
a decomposed, non-recursive oracle:

  1. Rebuild the edge set independently in DuckDB (the committed
     LSH_PAIR_CTES + exact-dup edges — the pair tier itself was proven
     bit-exact vs Spark at sf10 in r7).
  2. Run UNROLLED min-label propagation: lbl_{i+1}(v) = min(lbl_i(v),
     min over in-edges lbl_i(u)), each round one hash join + group-min,
     until two consecutive rounds are identical (bounded by
     MAX_ROUNDS, asserted).  A fixed point of min-propagation seeded
     with vertex ids IS the exact min-id component labeling: stability
     across both edge directions forces equal labels across every
     edge; labels only travel along edges, so each label names a
     vertex of its own component; and the component's min-id vertex
     can never adopt a larger label, so every class label is the
     component min.  No recursion, no transitive pair blow-up.
  3. Compare Spark's q_dup_clusters labels value-exactly, then derive
     q_dedup_apply's census from the verified labels and compare.

Also provides a CHUNKED evaluation of the shingle-contamination oracles
(q_contamination_check / q_curation_census) for the case where the
single-statement unnest-join exhausts DuckDB at sf10: bench shingles are
materialized once, then train-side hits accumulate per doc_id-mod chunk
— identical result set, bounded per-statement footprint.

For q_semantic_dedup — whose committed single-statement oracle OOMs at
sf10 (112 GB RSS; the assign1 window carries a 64-double list across
40M rows) — `--checks semantic` rebuilds the k-means assignment chain
with streaming MAX(struct) argmax aggregation (bounded state, no
list-carrying window), proves it reproduces the committed oracle bit-for-bit at a
tractable sf (`--checks semantic-equiv`), then recomputes the FULL
pair expansion for the deterministic (c_id // KM_MOD) %
SEM_SAMPLE_MOD == 0 cluster sample (MOD=1 — everything — is
tractable at sf10) and compares it against Spark's output restricted to
those clusters.

Usage:
    python tools/verify_sf10_tail.py --sf-dir .sfnative10 \
        --checks clusters,apply[,contamination,curation,semantic]
    python tools/verify_sf10_tail.py --sf-dir /root/testdata/sf0.01 \
        --checks semantic-equiv,semantic   # formulation equivalence
"""

from __future__ import annotations

import argparse
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))

MAX_ROUNDS = 12
N_CHUNKS = 16


def log(msg: str) -> None:
    print(f"[{time.strftime('%H:%M:%S')}] {msg}", flush=True)


def build_cc_labels(con) -> str:
    """Materialize edges + run unrolled min-label propagation; return
    the name of the final labels table (doc, lbl)."""
    from nyc_landmarks_datalake_spark.operators.dedup import (
        EXACT_DUP_EDGES_SQL,
        LSH_PAIR_CTES,
    )

    t0 = time.time()
    con.execute(
        f"CREATE TEMP TABLE vt_lsh AS WITH {LSH_PAIR_CTES} "
        "SELECT doc1, doc2 FROM lsh_pairs"
    )
    log(f"lsh pairs: {con.execute('SELECT count(*) FROM vt_lsh').fetchone()[0]}"
        f" rows in {time.time() - t0:.0f}s")
    con.execute(
        "CREATE TEMP TABLE vt_all AS SELECT doc1, doc2 FROM vt_lsh "
        f"UNION ALL SELECT doc1, doc2 FROM ({EXACT_DUP_EDGES_SQL})"
    )
    con.execute(
        "CREATE TEMP TABLE vt_edges AS "
        "SELECT doc1 AS src, doc2 AS dst FROM vt_all "
        "UNION ALL SELECT doc2 AS src, doc1 AS dst FROM vt_all"
    )
    con.execute(
        "CREATE TEMP TABLE vt_lab0 AS "
        "SELECT DISTINCT src AS doc, src AS lbl FROM vt_edges"
    )
    prev = "vt_lab0"
    for i in range(1, MAX_ROUNDS + 1):
        cur = f"vt_lab{i}"
        con.execute(
            f"CREATE TEMP TABLE {cur} AS "
            f"SELECT v.doc, LEAST(v.lbl, COALESCE(m.mn, v.lbl)) AS lbl "
            f"FROM {prev} v LEFT JOIN ("
            f"  SELECT e.dst AS doc, MIN(l.lbl) AS mn "
            f"  FROM vt_edges e JOIN {prev} l ON l.doc = e.src "
            f"  GROUP BY e.dst) m ON m.doc = v.doc"
        )
        changed = con.execute(
            f"SELECT count(*) FROM {cur} a JOIN {prev} b "
            "ON a.doc = b.doc AND a.lbl <> b.lbl"
        ).fetchone()[0]
        log(f"label-prop round {i}: {changed} changed")
        con.execute(f"DROP TABLE {prev}")
        prev = cur
        if changed == 0:
            return prev
    raise AssertionError(
        f"min-label propagation did not reach a fixed point in "
        f"{MAX_ROUNDS} rounds — graph diameter exceeds the unroll budget"
    )


#: cluster-sampling modulus for the semantic check: clusters with
#: (c_id // KM_MOD) % MOD == 0 get their pair expansion recomputed
#: (c_id values are multiples of KM_MOD, so the modulus must apply to
#: the centroid INDEX, not the raw id). MOD = 1 verifies everything —
#: tractable even at sf10 (45 s) once the assignment chain uses the
#: streaming formulation; the committed single-statement oracle OOMs
#: there (112 GB RSS: the assign1 window carries a 64-double list
#: across 40M rows). Raise MOD only for sfs where the full pair
#: expansion itself becomes the bottleneck.
SEM_SAMPLE_MOD = 1


def build_semantic_tables(con) -> None:
    """Decomposed k-means assignment tables: same math as the committed
    _kmeans_ctes_sql but via streaming MAX(struct) argmax aggregation (no window
    ever carries an embedding list), so DuckDB's peak memory is the
    200k-group aggregate state instead of a 40M-row sort buffer. The
    tie-break MAX({cos, -c_id}) == ORDER BY cos DESC, c_id
    ASC; equivalence to the committed oracle is asserted at sf0.01 by
    --checks semantic-equiv before this is trusted at sf10."""
    from nyc_landmarks_datalake_spark.functions.numeric import davg_sql
    from nyc_landmarks_datalake_spark.functions.vectors import cosine_sql
    from nyc_landmarks_datalake_spark.operators.clustering import (
        KM_MOD,
        MAX_K,
    )

    cos_ec = cosine_sql("e.embedding", "c.c_emb")
    t0 = time.time()
    con.execute(
        f"CREATE TEMP TABLE vt_cent0 AS "
        f"SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings "
        f"WHERE vec_id % {KM_MOD} = 0 AND vec_id < {KM_MOD * MAX_K}"
    )
    # MAX over a struct is lexicographic: max cosine first, then max
    # -c_id == MIN c_id — identical tie-break to the committed
    # oracle's ORDER BY cos DESC, c_id ASC (max_by rejects struct
    # "by" values in this DuckDB build; plain MAX accepts them)
    con.execute(
        f"CREATE TEMP TABLE vt_a1 AS "
        f"SELECT vec_id, -(best.i) AS c_id FROM ("
        f"  SELECT e.vec_id, MAX({{'c': {cos_ec}, 'i': -c.c_id}}) AS best "
        f"  FROM embeddings e CROSS JOIN vt_cent0 c GROUP BY e.vec_id)"
    )
    log(f"assign1 in {time.time() - t0:.0f}s")
    t0 = time.time()
    con.execute(
        f"CREATE TEMP TABLE vt_cent1 AS "
        f"SELECT c_id, list(mv ORDER BY pos) AS c_emb FROM ("
        f"  SELECT c_id, pos, {davg_sql('val')} AS mv FROM ("
        f"    SELECT a.c_id, "
        f"      CAST(generate_subscripts(e.embedding, 1) - 1 AS INT) AS pos, "
        f"      CAST(unnest(e.embedding) AS DOUBLE) AS val "
        f"    FROM vt_a1 a JOIN embeddings e USING (vec_id)) "
        f"  GROUP BY 1, 2) GROUP BY c_id"
    )
    con.execute(
        f"CREATE TEMP TABLE vt_a2 AS "
        f"SELECT vec_id, c_id_prev, -(best.i) AS c_id, best.c AS cos FROM ("
        f"  SELECT e.vec_id, a.c_id AS c_id_prev, "
        f"  MAX({{'c': {cos_ec}, 'i': -c.c_id}}) AS best "
        f"  FROM embeddings e JOIN vt_a1 a USING (vec_id) "
        f"  CROSS JOIN vt_cent1 c GROUP BY e.vec_id, a.c_id)"
    )
    log(f"cent1+assign2 in {time.time() - t0:.0f}s")


def semantic_oracle_sql(sample_mod: int) -> str:
    from nyc_landmarks_datalake_spark.functions.vectors import cosine_sql
    from nyc_landmarks_datalake_spark.operators.clustering import (
        SEM_THRESHOLD,
    )
    from nyc_landmarks_datalake_spark.operators.dedup import (
        capped_pair_ctes_sql,
    )

    from nyc_landmarks_datalake_spark.operators.clustering import KM_MOD

    cos_ab = cosine_sql("p.a.embedding", "p.b.embedding")
    km_mod = KM_MOD
    return f"""
    WITH members AS (
        SELECT a.c_id, a.vec_id, e.embedding
        FROM vt_a2 a JOIN embeddings e USING (vec_id)
        WHERE (a.c_id // {km_mod}) % {sample_mod} = 0
    ),
    {capped_pair_ctes_sql(
        'sd_',
        'members',
        ['c_id'],
        "{'vec_id': vec_id, 'embedding': embedding}",
        k_sql='embedding',
    )}
    SELECT p.b.vec_id AS vec_id,
           COUNT(*) AS n_partners,
           MAX({cos_ab}) AS max_cos
    FROM sd_pairs
    WHERE {cos_ab} >= {SEM_THRESHOLD}
    GROUP BY 1
    """


def build_contamination_hits(con) -> None:
    """Materialize vt_hits (contaminated train doc_ids), chunked."""
    from nyc_landmarks_datalake_spark.operators.dedup import _SHINGLED_DUCK
    from nyc_landmarks_datalake_spark.operators.training_pipeline import (
        BENCH_MOD,
    )

    t0 = time.time()
    con.execute(
        f"CREATE TEMP TABLE vt_bench_sh AS WITH sh AS ({_SHINGLED_DUCK}) "
        f"SELECT DISTINCT unnest(shingles) AS shingle FROM sh "
        f"WHERE doc_id % {BENCH_MOD} = 0"
    )
    log(f"bench shingles in {time.time() - t0:.0f}s")
    con.execute("CREATE TEMP TABLE vt_hits (doc_id BIGINT)")
    for i in range(N_CHUNKS):
        con.execute(
            f"INSERT INTO vt_hits WITH sh AS ({_SHINGLED_DUCK}) "
            f"SELECT DISTINCT t.doc_id FROM ("
            f"  SELECT doc_id, unnest(shingles) AS shingle FROM sh "
            f"  WHERE doc_id % {BENCH_MOD} <> 0 "
            f"    AND doc_id % {N_CHUNKS} = {i}) t "
            f"JOIN vt_bench_sh USING (shingle)"
        )
        log(f"contamination chunk {i + 1}/{N_CHUNKS}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=".sfnative10")
    ap.add_argument("--checks", default="clusters,apply")
    ap.add_argument(
        "--duckdb-mem",
        default="48GB",
        help="DuckDB memory_limit for the oracle phase (default 48GB — "
        "the historical co-resident-JVM budget; the Spark phase is over "
        "before the oracle phase starts, so on a quiet 125GB box 90GB "
        "cuts spill dramatically: the r15 LPA sf10 run spilled >60GB "
        "under 48GB and exhausted the disk, the r14 failure mode)",
    )
    ap.add_argument(
        "--reuse-spark",
        action="store_true",
        help="load Spark-side results cached by a previous run from "
        "/tmp/vt_spark_cache/<sf-dir>_<source-hash>/<query>.parquet "
        "instead of re-running Spark — iterate on the DuckDB phase "
        "without paying the Spark phase again. The cache key includes "
        "a hash of the engine package source, so editing any operator "
        "invalidates it (stale results from old code never verify)",
    )
    ap.add_argument(
        "--lp-chunks",
        type=int,
        default=16,
        help="candidate-space chunks for --checks linkpred (u %% C "
        "partition; both engines run per-chunk and merge top-Ks — "
        "exact). 16 suits native sf1 (~93M wedges/chunk); use 64+ at "
        "sf10",
    )
    args = ap.parse_args()
    checks = {c.strip() for c in args.checks.split(",") if c.strip()}
    sf_dir = os.path.abspath(args.sf_dir)

    from oracle_harness import compare, duckdb_conn

    from nyc_landmarks_datalake_spark import registry
    from nyc_landmarks_datalake_spark.session import get_spark

    registry.load_all()
    # Phase 1: run every selected Spark query and STOP the JVM before
    # the DuckDB phase starts — the sf10 pair/label build and a 48g
    # Spark heap together exceed the machine (a concurrent run killed
    # both JVMs), and the phases never need to overlap.
    query_of = {
        "clusters": "q_dup_clusters",
        "apply": "q_dedup_apply",
        "weights": "q_soft_dedup_weights",
        "contamination": "q_contamination_check",
        "curation": "q_curation_census",
        "fullouter": "q_stream_full_outer_join",
        "cv": "q_quality_clf_cv",
        "kcore": "q_kcore_decomposition",
        "lpa": "q_label_propagation",
        "linkage": "q_record_linkage",
        "linkweights": "q_linkage_weights",
        "harmonic": "q_harmonic_centrality",
        "betweenness": "q_betweenness_sketch",
        "closeness": "q_closeness_eccentricity",
        "distances": "q_distance_distribution",
        "assort": "q_degree_assortativity",
    }
    spark = get_spark(
        "verify_sf10_tail",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark_results: dict[str, object] = {}
    # cache keyed by (sf-dir, engine-source hash): comparing one
    # scale's cached Spark result against another scale's oracle is a
    # guaranteed false mismatch, and (r14 ADVICE) a result cached by
    # OLD code compared against a NEW oracle silently verifies the
    # wrong Spark implementation — the source hash invalidates the
    # cache on any operator edit.
    import hashlib

    pkg_dir = os.path.join(_REPO, "nyc_landmarks_datalake_spark")
    h = hashlib.md5()
    for root, _dirs, files in sorted(os.walk(pkg_dir)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(root, fn), "rb") as f:
                    h.update(f.read())
    src_hash = h.hexdigest()[:10]
    cache_dir = os.path.join(
        "/tmp/vt_spark_cache",
        f"{sf_dir.strip('/').replace('/', '_')}_{src_hash}",
    )
    os.makedirs(cache_dir, exist_ok=True)
    for c in sorted(checks):
        name = query_of.get(c)
        if name is None:
            continue
        cache = os.path.join(cache_dir, f"{name}.parquet")
        if args.reuse_spark and os.path.exists(cache):
            import pandas as pd

            spark_results[name] = pd.read_parquet(cache)
            mtime = time.strftime(
                "%Y-%m-%d %H:%M", time.localtime(os.path.getmtime(cache))
            )
            log(f"{name}: spark side LOADED from {cache} "
                f"(cached {mtime}; {len(spark_results[name])} rows)")
            continue
        t0 = time.time()
        spark_results[name] = registry.QUERIES[name](spark, sf_dir).toPandas()
        spark_results[name].to_parquet(cache)
        log(f"{name}: spark side done in {time.time() - t0:.0f}s "
            f"({len(spark_results[name])} rows; cached to {cache})")
    # linkpred runs candidate-chunked on BOTH engines: the whole-space
    # wedge aggregation (1.48e9 wedges at native sf1) exceeds a single
    # box, so each engine computes per-chunk top-Ks over the u % C
    # candidate partition and the merge reproduces the whole-space
    # top-K exactly (formulation equivalence pinned at sf0.001 by
    # tests/test_linkpred.py::test_link_prediction_chunked_equals_whole)
    if "linkpred" in checks:
        import pandas as pd

        from nyc_landmarks_datalake_spark.operators.graph import (
            LP_TOPK,
            link_prediction_frame,
        )

        def _lp_merge(parts: list) -> "pd.DataFrame":
            return (
                pd.concat(parts)
                .sort_values(
                    ["aa_e6", "u", "v"], ascending=[False, True, True]
                )
                .head(LP_TOPK)
                .reset_index(drop=True)
            )

        n_chunks = args.lp_chunks
        cache_lp = os.path.join(
            cache_dir, f"q_link_prediction_c{n_chunks}.parquet"
        )
        if args.reuse_spark and os.path.exists(cache_lp):
            spark_results["q_link_prediction"] = pd.read_parquet(cache_lp)
            log(f"linkpred: spark side LOADED from {cache_lp}")
        else:
            t0 = time.time()
            lp_parts = []
            for c in range(n_chunks):
                tc = time.time()
                lp_parts.append(
                    link_prediction_frame(
                        spark, sf_dir, chunk=(c, n_chunks)
                    ).toPandas()
                )
                log(
                    f"linkpred spark chunk {c + 1}/{n_chunks}: "
                    f"{len(lp_parts[-1])} rows in {time.time() - tc:.0f}s"
                )
            spark_results["q_link_prediction"] = _lp_merge(lp_parts)
            spark_results["q_link_prediction"].to_parquet(cache_lp)
            log(
                f"linkpred spark side done in {time.time() - t0:.0f}s "
                f"(cached to {cache_lp})"
            )
    # semantic-equiv compares the two DuckDB formulations only — the
    # Spark side (and the assignments collect) is needed just for the
    # 'semantic' value comparison
    if "semantic" in checks:
        from nyc_landmarks_datalake_spark.operators.clustering import (
            kmeans_assignments,
        )

        t0 = time.time()
        name = "q_semantic_dedup"
        spark_results[name] = registry.QUERIES[name](spark, sf_dir).toPandas()
        spark_results["__assignments"] = (
            kmeans_assignments(spark, sf_dir)
            .select("vec_id", "c_id")
            .toPandas()
        )
        log(f"semantic spark side done in {time.time() - t0:.0f}s "
            f"({len(spark_results[name])} rows)")
    spark.stop()
    log("spark stopped; starting DuckDB phase")

    con = duckdb_conn(sf_dir)
    failures: list[str] = []

    def check(name: str, oracle_sql: str) -> None:
        sdf = spark_results[name]
        odf = con.execute(oracle_sql).fetchdf()
        probs = compare(sdf, odf, name)
        status = "ok" if not probs else "FAIL"
        log(f"{name}: {status} ({len(sdf)} rows) {probs[:2]}")
        if probs:
            failures.append(name)

    if checks & {"clusters", "apply", "weights"}:
        labels = build_cc_labels(con)
        if "clusters" in checks:
            check(
                "q_dup_clusters",
                f"SELECT doc AS doc_id, lbl AS cluster_id FROM {labels}",
            )
        if "apply" in checks:
            check(
                "q_dedup_apply",
                "SELECT lang, COUNT(*) AS n_docs, "
                "CAST(SUM(n_chars) AS BIGINT) AS total_chars "
                "FROM documents WHERE doc_id NOT IN "
                f"(SELECT doc FROM {labels} WHERE doc <> lbl) GROUP BY 1",
            )
        if "weights" in checks:
            # q_soft_dedup_weights' committed oracle is the recursive-CTE
            # reachability class (intractable at sf10); derive the same
            # census from the verified min-label components instead —
            # the committed oracle's `clusters` relation IS this labels
            # table (docs outside any edge are singletons via the LEFT
            # JOIN COALESCEs, exactly as committed).
            check(
                "q_soft_dedup_weights",
                f"""
                WITH sizes AS (
                    SELECT lbl, CAST(COUNT(*) AS BIGINT) AS cl_size
                    FROM {labels} GROUP BY 1
                ),
                wts AS (
                    SELECT d.source,
                           CAST(COALESCE(1000000 // s.cl_size, 1000000)
                                AS BIGINT) AS weight_ppm,
                           CAST(COALESCE(s.cl_size, 1) AS BIGINT) AS cl_size
                    FROM documents d
                    LEFT JOIN {labels} c ON c.doc = d.doc_id
                    LEFT JOIN sizes s ON s.lbl = c.lbl
                )
                SELECT source,
                       CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(CASE WHEN cl_size > 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_downweighted,
                       CAST(SUM(weight_ppm) AS BIGINT) AS sum_weight_ppm,
                       CAST(MAX(cl_size) AS BIGINT) AS max_cluster
                FROM wts
                GROUP BY 1
                """,
            )

    if "fullouter" in checks:
        # q_stream_full_outer_join's committed single-statement FULL
        # JOIN oracle picks a memory-unbounded plan for the mixed
        # equality+interval condition at sf10 (observed 86 GB RSS ->
        # host OOM kill). Decompose into an INNER interval join (hash
        # join on the equality key, range as residual — bounded) plus
        # anti-join censuses for the two null sides, then assemble the
        # identical per-user census. 4 s at sf10.
        from nyc_landmarks_datalake_spark.streaming.stream_join import (
            JOIN_WINDOW_HOURS,
        )

        check(
            "q_stream_full_outer_join",
            f"""
            WITH a AS (
                SELECT event_id AS click_id, user_id AS click_user,
                       ts AS click_ts
                FROM events WHERE event_type = 'click'
            ),
            b AS (
                SELECT event_id AS purchase_id, user_id AS purchase_user,
                       ts AS purchase_ts
                FROM events WHERE event_type = 'purchase'
            ),
            m AS MATERIALIZED (
                SELECT a.click_id, a.click_user, b.purchase_id
                FROM a JOIN b ON a.click_user = b.purchase_user
                 AND a.click_ts BETWEEN
                     b.purchase_ts - INTERVAL {JOIN_WINDOW_HOURS} HOURS
                     AND b.purchase_ts
            ),
            lo AS (
                SELECT click_user AS user_id, CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(click_id) AS BIGINT) AS s
                FROM a WHERE click_id NOT IN (SELECT click_id FROM m)
                GROUP BY 1
            ),
            ro AS (
                SELECT purchase_user AS user_id,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(purchase_id) AS BIGINT) AS s
                FROM b WHERE purchase_id NOT IN (SELECT purchase_id FROM m)
                GROUP BY 1
            ),
            mm AS (
                SELECT click_user AS user_id, CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(click_id) AS BIGINT) AS sc,
                       CAST(SUM(purchase_id) AS BIGINT) AS sp
                FROM m GROUP BY 1
            )
            SELECT COALESCE(mm.user_id, lo.user_id, ro.user_id) AS user_id,
                   CAST(COALESCE(mm.n, 0) + COALESCE(lo.n, 0)
                        + COALESCE(ro.n, 0) AS BIGINT) AS n_rows,
                   CAST(COALESCE(mm.n, 0) AS BIGINT) AS n_matched,
                   CAST(COALESCE(lo.n, 0) AS BIGINT) AS n_left_only,
                   CAST(COALESCE(ro.n, 0) AS BIGINT) AS n_right_only,
                   CAST(COALESCE(mm.sc, 0) + COALESCE(lo.s, 0) AS BIGINT)
                       AS sum_click_ids,
                   CAST(COALESCE(mm.sp, 0) + COALESCE(ro.s, 0) AS BIGINT)
                       AS sum_purchase_ids
            FROM mm FULL JOIN lo USING (user_id) FULL JOIN ro USING (user_id)
            """,
        )

    if "kcore" in checks:
        # q_kcore_decomposition's committed oracle materializes ALL 16
        # unrolled H-index iterations in one statement — 74 GB of spill
        # at sf10 (disk exhaustion; cut). Same decomposition as
        # build_cc_labels: run the IDENTICAL step SQL
        # (graph.kcore_step_sql — the committed CTEs are generated from
        # the same text) one iteration per statement, dropping the
        # previous table, with early exit at the fixpoint — the
        # footprint is one iteration's. Cap + spill so an overrun
        # ERRORS instead of OOMing the host (the r11 fullouter lesson).
        from nyc_landmarks_datalake_spark.operators.graph import (
            KCORE_ORACLE_ITERS,
            _PAIRS_SQL,
            _two_way_sql,
            kcore_step_sql,
        )

        con.execute(f"SET memory_limit='{args.duckdb_mem}'")
        con.execute("SET temp_directory='/tmp/duckdb_spill_kcore'")
        t0 = time.time()
        con.execute(f"CREATE TEMP TABLE vt_ke0 AS {_PAIRS_SQL}")
        con.execute(f"CREATE TEMP TABLE vt_kedges AS {_two_way_sql('vt_ke0')}")
        con.execute(
            "CREATE TEMP TABLE vt_kc0 AS "
            "SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core "
            "FROM vt_kedges GROUP BY 1"
        )
        log(
            "kcore edges: "
            f"{con.execute('SELECT count(*) FROM vt_kedges').fetchone()[0]}"
            f" rows in {time.time() - t0:.0f}s"
        )
        prev = "vt_kc0"
        for i in range(1, KCORE_ORACLE_ITERS + 1):
            cur = f"vt_kc{i}"
            con.execute(
                f"CREATE TEMP TABLE {cur} AS "
                + kcore_step_sql(prev, edges="vt_kedges")
            )
            changed = con.execute(
                f"SELECT count(*) FROM {cur} a JOIN {prev} b "
                "ON a.node = b.node AND a.core <> b.core"
            ).fetchone()[0]
            log(f"kcore H-index round {i}: {changed} changed")
            con.execute(f"DROP TABLE {prev}")
            prev = cur
            if changed == 0:
                break
        else:
            raise AssertionError(
                f"kcore H-index did not reach a fixpoint in "
                f"{KCORE_ORACLE_ITERS} rounds — raise KCORE_ORACLE_ITERS"
                " (and the committed oracle's unroll) together"
            )
        # vt_kc0 (the degree relation) was dropped as the loop advanced;
        # recompute it for the output join — one hash agg.
        check(
            "q_kcore_decomposition",
            "SELECT deg.node, deg.core AS degree, fin.core AS coreness "
            "FROM (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core "
            f"      FROM vt_kedges GROUP BY 1) deg "
            f"JOIN {prev} fin USING (node)",
        )
        log(f"kcore stepped oracle+compare took {time.time() - t0:.0f}s")

    if "lpa" in checks:
        # q_label_propagation, same decomposition as kcore: the committed
        # oracle unrolls LPA_ORACLE_SUPERSTEPS supersteps in one
        # statement (sized for the sweep tier); at native scale drive
        # the IDENTICAL step SQL (graph.lpa_step_sql) one half-step per
        # statement, dropping the previous table, early-exiting when a
        # full superstep changes nothing — budget LPA_MAX_SUPERSTEPS,
        # the Spark loop's.
        from nyc_landmarks_datalake_spark.operators.graph import (
            LPA_MAX_SUPERSTEPS,
            _PAIRS_SQL,
            _two_way_sql,
            lpa_step_sql,
        )

        con.execute(f"SET memory_limit='{args.duckdb_mem}'")
        con.execute("SET temp_directory='/tmp/duckdb_spill_lpa'")
        t0 = time.time()
        # three separate statements, mirroring the committed oracle's
        # MATERIALIZED llp/llc/ll0 chain: the nation key flows through
        # the pair relation so the optimizer can never pick the
        # customer ⋈ supplier ON nationkey order (~6e9 rows at sf10 —
        # the r15 blowup; see graph._lpa_sql)
        con.execute(f"CREATE TEMP TABLE vt_llp AS {_PAIRS_SQL}")
        con.execute(
            "CREATE TEMP TABLE vt_llc AS "
            "SELECT p.c, p.s, cu.c_nationkey AS nat "
            "FROM vt_llp p JOIN customer cu ON cu.c_custkey = p.c"
        )
        con.execute(
            "CREATE TEMP TABLE vt_ll0 AS "
            "SELECT DISTINCT llc.c, llc.s "
            "FROM vt_llc llc JOIN supplier su "
            "ON su.s_suppkey = llc.s AND su.s_nationkey = llc.nat"
        )
        con.execute("DROP TABLE vt_llp; DROP TABLE vt_llc")
        con.execute(f"CREATE TEMP TABLE vt_ledges AS {_two_way_sql('vt_ll0')}")
        con.execute(
            "CREATE TEMP TABLE vt_lp0 AS "
            "SELECT DISTINCT src AS node, CAST(src AS BIGINT) AS lbl "
            "FROM vt_ledges"
        )
        log(
            "lpa edges: "
            f"{con.execute('SELECT count(*) FROM vt_ledges').fetchone()[0]}"
            f" rows in {time.time() - t0:.0f}s"
        )
        prev = "vt_lp0"
        for ss in range(1, LPA_MAX_SUPERSTEPS + 2):
            start = prev
            for side in ("cust", "supp"):
                cur = f"vt_lp{ss}_{side}"
                con.execute(
                    f"CREATE TEMP TABLE {cur} AS "
                    + lpa_step_sql(prev, side, edges="vt_ledges")
                )
                if prev != start:
                    con.execute(f"DROP TABLE {prev}")
                prev = cur
            changed = con.execute(
                f"SELECT count(*) FROM {prev} a JOIN {start} b "
                "ON a.node = b.node AND a.lbl <> b.lbl"
            ).fetchone()[0]
            log(f"lpa superstep {ss}: {changed} changed")
            con.execute(f"DROP TABLE {start}")
            if changed == 0:
                break
        else:
            raise AssertionError(
                f"lpa did not reach a fixpoint in {LPA_MAX_SUPERSTEPS} "
                "supersteps — raise LPA_MAX_SUPERSTEPS (Spark raises at "
                "the same budget)"
            )
        check(
            "q_label_propagation",
            f"SELECT node, lbl AS community FROM {prev}",
        )
        log(f"lpa stepped oracle+compare took {time.time() - t0:.0f}s")

    if checks & {"linkage", "linkweights"}:
        # q_record_linkage's committed single-statement oracle ran 45
        # minutes of pure compute at sf10 (~1e9 candidate-pair
        # levenshtein verifies) and was cut in r13. Decompose by ida: a
        # pair's chunk is a function of ida, so per-chunk DISTINCT is
        # globally correct, and every accumulated quantity — pattern
        # counts, truth counts, min sample pair, labeled m/u counts —
        # is distributive over chunks. The chunk SQL is the committed
        # CTE chain itself (linkage.oracle_ctes) with one injected
        # predicate; the scoring/unpivot tails are the committed text
        # over the merged census (linkage.linkage_score_sql /
        # weights_unpivot_sql). Bounded memory per chunk + progress.
        from nyc_landmarks_datalake_spark.operators.linkage import (
            linkage_score_sql,
            oracle_ctes,
            weights_unpivot_sql,
        )

        con.execute(f"SET memory_limit='{args.duckdb_mem}'")
        con.execute("SET temp_directory='/tmp/duckdb_spill_linkage'")
        t0 = time.time()
        n_chunks = 8
        # the variant-key explosions are ~(L+1)x the corpus — derive
        # them ONCE from the committed text (DuckDB evaluates only the
        # CTEs the SELECT needs) instead of once per chunk; the chunk
        # statements then reference the materialized tables via the
        # ka_body/kb_body substitution.
        con.execute(
            f"CREATE TEMP TABLE vt_lka AS WITH {oracle_ctes()} "
            "SELECT * FROM ka"
        )
        con.execute(
            f"CREATE TEMP TABLE vt_lkb AS WITH {oracle_ctes()} "
            "SELECT * FROM kb"
        )
        log(
            "linkage variant keys materialized "
            f"({con.execute('SELECT count(*) FROM vt_lka').fetchone()[0]}"
            f" + {con.execute('SELECT count(*) FROM vt_lkb').fetchone()[0]}"
            f" rows) in {time.time() - t0:.0f}s"
        )
        con.execute(
            "CREATE TEMP TABLE vt_lcen (g1 INT, g2 INT, g3 INT, g4 INT,"
            " n_pairs BIGINT, n_true_pairs BIGINT, sample_pair VARCHAR,"
            " lab_m BIGINT, lab_u BIGINT)"
        )
        # dedup-first candidate body: the committed order (verify, then
        # DISTINCT) runs levenshtein once per SHARED variant key — an
        # uncorrupted name matches its own dirty copy on all ~(L+1)
        # deletion keys. Names are functions of the ids, so DISTINCT
        # (ida, idb, names) before the verify is value-identical and
        # cuts the sf10 levenshtein count ~an order of magnitude.
        dedup_first = (
            " SELECT ida, idb FROM ("
            "   SELECT DISTINCT a.id AS ida, b.id AS idb,"
            "          a.name AS na, b.name AS nb"
            "   FROM ka a JOIN kb b ON a.k = b.k"
            "   WHERE 1 = 1{CAND_PRED}"
            " ) WHERE levenshtein(na, nb) <= 1 "
        )
        for i in range(n_chunks):
            chunk_ctes = oracle_ctes(
                f" AND a.id % {n_chunks} = {i}",
                ka_body="SELECT * FROM vt_lka",
                kb_body="SELECT * FROM vt_lkb",
                cand_body=dedup_first,
            )
            con.execute(
                f"INSERT INTO vt_lcen "
                f"WITH {chunk_ctes} "
                "SELECT g1, g2, g3, g4, CAST(COUNT(*) AS BIGINT),"
                " CAST(SUM(m) AS BIGINT),"
                " MIN(ida::VARCHAR || ':' || idb::VARCHAR),"
                " CAST(SUM(lab * m) AS BIGINT),"
                " CAST(SUM(lab * (1 - m)) AS BIGINT) "
                "FROM gam GROUP BY 1, 2, 3, 4"
            )
            log(
                f"linkage census chunk {i + 1}/{n_chunks} "
                f"({time.time() - t0:.0f}s elapsed)"
            )
        con.execute(
            "CREATE TEMP TABLE vt_lmerged AS "
            "SELECT g1, g2, g3, g4,"
            " CAST(SUM(n_pairs) AS BIGINT) AS n_pairs,"
            " CAST(SUM(n_true_pairs) AS BIGINT) AS n_true_pairs,"
            " MIN(sample_pair) AS sample_pair,"
            " CAST(SUM(lab_m) AS BIGINT) AS lab_m,"
            " CAST(SUM(lab_u) AS BIGINT) AS lab_u "
            "FROM vt_lcen GROUP BY 1, 2, 3, 4"
        )
        # the committed w CTE sums m*g_i / (1-m)*g_i over lab=1 gam
        # rows; g_i is constant within a pattern, so those sums are
        # SUM(g_i * lab_m) / SUM(g_i * lab_u) over the merged census —
        # same _clamp_ppm text shape, exact.
        mu = ", ".join(
            f"CAST(LEAST(999999, GREATEST(1,"
            f" (SUM(lab_m * g{i}) + 1) * 1000000 // (SUM(lab_m) + 2)))"
            f" AS BIGINT) AS m{i},"
            f" CAST(LEAST(999999, GREATEST(1,"
            f" (SUM(lab_u * g{i}) + 1) * 1000000 // (SUM(lab_u) + 2)))"
            f" AS BIGINT) AS u{i}"
            for i in range(1, 5)
        )
        con.execute(
            "CREATE TEMP TABLE vt_lw AS "
            "SELECT CAST(SUM(lab_m) AS BIGINT) AS n_m,"
            f" CAST(SUM(lab_u) AS BIGINT) AS n_u, {mu} FROM vt_lmerged"
        )
        if "linkage" in checks:
            check(
                "q_record_linkage",
                "WITH census AS (SELECT g1, g2, g3, g4, n_pairs,"
                " n_true_pairs, sample_pair FROM vt_lmerged),\n"
                + linkage_score_sql(census="census", w="vt_lw"),
            )
        if "linkweights" in checks:
            check(
                "q_linkage_weights",
                "WITH " + weights_unpivot_sql(w="vt_lw"),
            )
        log(f"linkage chunked oracle+compare took {time.time() - t0:.0f}s")

    if checks & {"harmonic", "betweenness", "closeness", "distances"}:
        # the centrality sketches share the purchase-graph edge build;
        # their committed unrolled oracles pay all 12 budget rounds in
        # one statement (~300 s at sf1) — the stepped drivers below run
        # the IDENTICAL step SQL one round per statement with early
        # exit at exhaustion, the kcore/lpa decomposition.
        from nyc_landmarks_datalake_spark.operators.graph import (
            BW_MAX_ROUNDS,
            BW_PIVOTS,
            HC_MAX_ROUNDS,
            HC_PIVOTS,
            _PAIRS_SQL,
            _two_way_sql,
            bw_bwd_step_sql,
            bw_fwd_step_sql,
            ce_step_sql,
            hc_step_sql,
        )
        from nyc_landmarks_datalake_spark.functions.hashing import (
            md5_long_sql,
        )

        con.execute(f"SET memory_limit='{args.duckdb_mem}'")
        con.execute("SET temp_directory='/tmp/duckdb_spill_cent'")
        t0 = time.time()
        con.execute(f"CREATE TEMP TABLE vt_ce0 AS {_PAIRS_SQL}")
        con.execute(f"CREATE TEMP TABLE vt_cedges AS {_two_way_sql('vt_ce0')}")
        con.execute(
            "CREATE TEMP TABLE vt_cnodes AS "
            "SELECT DISTINCT src AS node FROM vt_cedges"
        )
        log(
            "centrality edges: "
            f"{con.execute('SELECT count(*) FROM vt_cedges').fetchone()[0]}"
            f" rows in {time.time() - t0:.0f}s"
        )

    if "harmonic" in checks:
        t0 = time.time()
        hpivhash = md5_long_sql("node::VARCHAR || ':pivot'")
        con.execute(
            "CREATE TEMP TABLE vt_hs0 AS "
            "SELECT n.node,"
            " COALESCE((CAST(1 AS BIGINT) << (p.rk - 1)), 0) AS mask,"
            " CAST(0 AS BIGINT) AS reach, CAST(0 AS BIGINT) AS harm "
            "FROM vt_cnodes n LEFT JOIN ("
            "  SELECT node, ROW_NUMBER() OVER (ORDER BY "
            f"   {hpivhash}, node) AS rk"
            "  FROM vt_cnodes"
            f"  ORDER BY {hpivhash}, node"
            f"  LIMIT {HC_PIVOTS}"
            ") p ON p.node = n.node"
        )
        prev = "vt_hs0"
        for k in range(1, HC_MAX_ROUNDS + 2):
            cur = f"vt_hs{k}"
            con.execute(
                f"CREATE TEMP TABLE {cur} AS "
                + hc_step_sql(prev, k, edges="vt_cedges")
            )
            grew = con.execute(
                f"SELECT count(*) FROM {cur} a JOIN {prev} b "
                "ON a.node = b.node AND a.mask <> b.mask"
            ).fetchone()[0]
            log(f"harmonic MS-BFS round {k}: {grew} masks grew")
            con.execute(f"DROP TABLE {prev}")
            prev = cur
            if grew == 0:
                break
        else:
            raise AssertionError(
                f"harmonic MS-BFS still growing after {HC_MAX_ROUNDS} "
                "rounds — raise HC_MAX_ROUNDS (Spark raises at the same "
                "budget)"
            )
        check(
            "q_harmonic_centrality",
            f"SELECT node, reach AS n_reached, harm AS harmonic_ppm "
            f"FROM {prev}",
        )
        log(f"harmonic stepped oracle+compare took {time.time() - t0:.0f}s")

    if "closeness" in checks:
        # same decomposition as harmonic over the same pivots — state
        # carries (mask, reach, dsum, ecc), step SQL shared with the
        # committed oracle (graph.ce_step_sql)
        t0 = time.time()
        cpivhash = md5_long_sql("node::VARCHAR || ':pivot'")
        con.execute(
            "CREATE TEMP TABLE vt_cs0 AS "
            "SELECT n.node,"
            " COALESCE((CAST(1 AS BIGINT) << (p.rk - 1)), 0) AS mask,"
            " CAST(0 AS BIGINT) AS reach, CAST(0 AS BIGINT) AS dsum,"
            " CAST(0 AS BIGINT) AS ecc "
            "FROM vt_cnodes n LEFT JOIN ("
            "  SELECT node, ROW_NUMBER() OVER (ORDER BY "
            f"   {cpivhash}, node) AS rk"
            "  FROM vt_cnodes"
            f"  ORDER BY {cpivhash}, node"
            f"  LIMIT {HC_PIVOTS}"
            ") p ON p.node = n.node"
        )
        prev = "vt_cs0"
        for k in range(1, HC_MAX_ROUNDS + 2):
            cur = f"vt_cs{k}"
            con.execute(
                f"CREATE TEMP TABLE {cur} AS "
                + ce_step_sql(prev, k, edges="vt_cedges")
            )
            grew = con.execute(
                f"SELECT count(*) FROM {cur} a JOIN {prev} b "
                "ON a.node = b.node AND a.mask <> b.mask"
            ).fetchone()[0]
            log(f"closeness MS-BFS round {k}: {grew} masks grew")
            con.execute(f"DROP TABLE {prev}")
            prev = cur
            if grew == 0:
                break
        else:
            raise AssertionError(
                f"closeness MS-BFS still growing after {HC_MAX_ROUNDS} "
                "rounds — raise HC_MAX_ROUNDS (Spark raises at the same "
                "budget)"
            )
        check(
            "q_closeness_eccentricity",
            "SELECT node, reach AS n_reached, dsum AS dist_sum,"
            " ecc AS eccentricity,"
            " CASE WHEN dsum > 0"
            "      THEN reach * CAST(1000000 AS BIGINT) // dsum"
            f"      ELSE CAST(0 AS BIGINT) END AS closeness_ppm "
            f"FROM {prev}",
        )
        log(
            f"closeness stepped oracle+compare took {time.time() - t0:.0f}s"
        )

    if "distances" in checks:
        # q_distance_distribution's committed oracle is the SAME 12-round
        # unrolled ce chain plus per-round SUM(reach) deltas — the
        # single-statement unroll thrashed at sf10 (the documented
        # unrolled-iteration trap), so drive ce_step_sql stepped and
        # record each round's SUM(reach) into a profile table.
        t0 = time.time()
        dpivhash = md5_long_sql("node::VARCHAR || ':pivot'")
        con.execute(
            "CREATE TEMP TABLE vt_ds0 AS "
            "SELECT n.node,"
            " COALESCE((CAST(1 AS BIGINT) << (p.rk - 1)), 0) AS mask,"
            " CAST(0 AS BIGINT) AS reach, CAST(0 AS BIGINT) AS dsum,"
            " CAST(0 AS BIGINT) AS ecc "
            "FROM vt_cnodes n LEFT JOIN ("
            "  SELECT node, ROW_NUMBER() OVER (ORDER BY "
            f"   {dpivhash}, node) AS rk"
            "  FROM vt_cnodes"
            f"  ORDER BY {dpivhash}, node"
            f"  LIMIT {HC_PIVOTS}"
            ") p ON p.node = n.node"
        )
        con.execute(
            "CREATE TEMP TABLE vt_dprof (distance BIGINT, cum_pairs BIGINT)"
        )
        con.execute("INSERT INTO vt_dprof VALUES (0, 0)")
        prev = "vt_ds0"
        for k in range(1, HC_MAX_ROUNDS + 2):
            cur = f"vt_ds{k}"
            con.execute(
                f"CREATE TEMP TABLE {cur} AS "
                + ce_step_sql(prev, k, edges="vt_cedges")
            )
            grew = con.execute(
                f"SELECT count(*) FROM {cur} a JOIN {prev} b "
                "ON a.node = b.node AND a.mask <> b.mask"
            ).fetchone()[0]
            log(f"distances MS-BFS round {k}: {grew} masks grew")
            con.execute(f"DROP TABLE {prev}")
            prev = cur
            if grew == 0:
                break
            con.execute(
                f"INSERT INTO vt_dprof SELECT {k},"
                f" CAST(SUM(reach) AS BIGINT) FROM {cur}"
            )
        else:
            raise AssertionError(
                f"distances MS-BFS still growing after {HC_MAX_ROUNDS} "
                "rounds — raise HC_MAX_ROUNDS (Spark raises at the same "
                "budget)"
            )
        check(
            "q_distance_distribution",
            """
            WITH ddw AS (
                SELECT distance, cum_pairs,
                       cum_pairs - LAG(cum_pairs)
                           OVER (ORDER BY distance) AS n_pairs,
                       MAX(cum_pairs) OVER () AS total
                FROM vt_dprof
            )
            SELECT distance, n_pairs, cum_pairs,
                   CAST(cum_pairs * 1000000 // total AS BIGINT) AS cum_ppm
            FROM ddw WHERE n_pairs > 0
            """,
        )
        log(
            f"distances stepped oracle+compare took {time.time() - t0:.0f}s"
        )

    if "betweenness" in checks:
        t0 = time.time()
        bpivhash = md5_long_sql("node::VARCHAR || ':bwpivot'")
        con.execute(
            "CREATE TEMP TABLE vt_bf0 AS "
            "SELECT node AS p, node, 0 AS d, CAST(1 AS BIGINT) AS sigma "
            "FROM (SELECT node FROM vt_cnodes ORDER BY "
            f" {bpivhash}, node"
            f" LIMIT {BW_PIVOTS})"
        )
        prev = "vt_bf0"
        deepest = 0
        for k in range(1, BW_MAX_ROUNDS + 2):
            cur = f"vt_bf{k}"
            con.execute(
                f"CREATE TEMP TABLE {cur} AS "
                + bw_fwd_step_sql(prev, k, edges="vt_cedges")
            )
            grew = con.execute(
                f"SELECT count(*) FROM {cur}"
            ).fetchone()[0] - con.execute(
                f"SELECT count(*) FROM {prev}"
            ).fetchone()[0]
            log(f"betweenness forward round {k}: {grew} new")
            con.execute(f"DROP TABLE {prev}")
            prev = cur
            if grew == 0:
                deepest = k - 1
                break
        else:
            raise AssertionError(
                f"betweenness forward pass still growing after "
                f"{BW_MAX_ROUNDS} rounds — raise BW_MAX_ROUNDS"
            )
        con.execute(
            "CREATE TEMP TABLE vt_bb AS "
            f"SELECT p, node, d, sigma, CAST(0 AS BIGINT) AS delta "
            f"FROM {prev}"
        )
        con.execute(f"DROP TABLE {prev}")
        for k in range(deepest - 1, -1, -1):
            con.execute(
                "CREATE TEMP TABLE vt_bb2 AS "
                + bw_bwd_step_sql("vt_bb", k, edges="vt_cedges")
            )
            con.execute(
                "DROP TABLE vt_bb; ALTER TABLE vt_bb2 RENAME TO vt_bb"
            )
            log(f"betweenness backward level {k} done")
        check(
            "q_betweenness_sketch",
            "SELECT n.node,"
            " CAST(COALESCE(SUM(CASE WHEN b.node <> b.p THEN b.delta END),"
            " 0) AS BIGINT) AS betweenness_ppm "
            "FROM vt_cnodes n LEFT JOIN vt_bb b ON b.node = n.node "
            "GROUP BY n.node",
        )
        log(
            f"betweenness stepped oracle+compare took {time.time() - t0:.0f}s"
        )

    if "cv" in checks:
        # q_quality_clf_cv's committed 5-fold single statement exceeds
        # a 40 GB DuckDB cap at sf10 (5 materialized train-fold
        # relations + 15 unrolled gradient joins in one plan). Verify
        # fold-by-fold: each single-fold statement is the same shape as
        # q_quality_clf_eval's committed oracle, which runs at sf10.
        import pandas as pd

        from nyc_landmarks_datalake_spark.operators.quality_clf import (
            N_FOLDS,
            cv_fold_oracle_sql,
        )

        fold_rows = []
        for j in range(N_FOLDS):
            t0 = time.time()
            fold_rows.append(con.execute(cv_fold_oracle_sql(j)).fetchdf())
            log(f"cv fold {j}: oracle done in {time.time() - t0:.0f}s")
        sdf = spark_results["q_quality_clf_cv"]
        odf = pd.concat(fold_rows, ignore_index=True)
        probs = compare(sdf, odf, "q_quality_clf_cv")
        status = "ok" if not probs else "FAIL"
        log(f"q_quality_clf_cv: {status} ({len(sdf)} rows) {probs[:2]}")
        if probs:
            failures.append("q_quality_clf_cv")

    if checks & {"contamination", "curation"}:
        from nyc_landmarks_datalake_spark.operators.training_pipeline import (
            BENCH_MOD,
            MAX_CHARS,
            MIN_CHARS,
        )

        build_contamination_hits(con)
        if "contamination" in checks:
            check(
                "q_contamination_check",
                f"""
                SELECT d.lang, COUNT(*) AS n_train_docs,
                       CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1
                                ELSE 0 END) AS BIGINT) AS n_contaminated
                FROM documents d
                LEFT JOIN vt_hits h ON d.doc_id = h.doc_id
                WHERE d.doc_id % {BENCH_MOD} <> 0
                GROUP BY 1
                """,
            )
        if "curation" in checks:
            check(
                "q_curation_census",
                f"""
                WITH dup AS (
                    SELECT doc_id FROM (
                        SELECT doc_id, row_number() OVER (
                            PARTITION BY md5(text) ORDER BY doc_id) AS rk
                        FROM documents
                    ) WHERE rk > 1
                ),
                staged AS (
                    SELECT d.lang,
                           CASE
                             WHEN d.doc_id % {BENCH_MOD} = 0 THEN 'benchmark'
                             WHEN d.n_chars < {MIN_CHARS}
                                  OR d.n_chars > {MAX_CHARS}
                                 THEN 'drop_quality'
                             WHEN dup.doc_id IS NOT NULL
                                 THEN 'drop_duplicate'
                             WHEN c.doc_id IS NOT NULL
                                 THEN 'drop_contaminated'
                             ELSE 'keep'
                           END AS stage
                    FROM documents d
                    LEFT JOIN dup ON d.doc_id = dup.doc_id
                    LEFT JOIN vt_hits c ON d.doc_id = c.doc_id
                )
                SELECT lang, stage, COUNT(*) AS n_docs
                FROM staged GROUP BY 1, 2
                """,
            )

    if checks & {"semantic", "semantic-equiv"}:
        build_semantic_tables(con)
        if "semantic-equiv" in checks:
            # prove the streaming-aggregate formulation reproduces the
            # committed window-based oracle bit-for-bit (run where the
            # committed one is tractable, i.e. sf0.01/sf0.1)
            committed = con.execute(
                registry.ORACLE["q_semantic_dedup"]
            ).fetchdf()
            decomposed = con.execute(semantic_oracle_sql(1)).fetchdf()
            probs = compare(decomposed, committed, "semantic-equiv")
            log(
                f"semantic-equiv (decomposed vs committed oracle): "
                f"{'ok' if not probs else 'FAIL'} ({len(decomposed)} rows) "
                f"{probs[:2]}"
            )
            if probs:
                failures.append("semantic-equiv")
        if "semantic" in checks:
            a = spark_results["__assignments"]
            from nyc_landmarks_datalake_spark.operators.clustering import (
                KM_MOD,
            )

            sampled = set(
                a.loc[(a["c_id"] // KM_MOD) % SEM_SAMPLE_MOD == 0, "vec_id"]
            )
            sdf = spark_results["q_semantic_dedup"]
            sdf = sdf[sdf["vec_id"].isin(sampled)].reset_index(drop=True)
            odf = con.execute(semantic_oracle_sql(SEM_SAMPLE_MOD)).fetchdf()
            probs = compare(sdf, odf, "q_semantic_dedup(sampled)")
            log(
                f"q_semantic_dedup sampled (centroid idx % {SEM_SAMPLE_MOD} == 0): "
                f"{'ok' if not probs else 'FAIL'} ({len(sdf)} rows) "
                f"{probs[:2]}"
            )
            if probs:
                failures.append("q_semantic_dedup")

    if "linkpred" in checks:
        import pandas as pd

        from nyc_landmarks_datalake_spark.operators.graph import (
            lp_base_ctes,
            lp_tail_sql,
        )

        t0 = time.time()
        # materialize the shared relations ONCE (the committed oracle's
        # own CTE bodies, verbatim via lp_base_ctes), then run the
        # shared tail per candidate chunk over them
        for tbl, src in (
            ("vt_lp_und", "tri_und"),
            ("vt_lp_deg", "tri_deg"),
            ("vt_lp_adjw", "lp_adjw"),
        ):
            con.execute(
                f"CREATE TEMP TABLE {tbl} AS WITH {lp_base_ctes()} "
                f"SELECT * FROM {src}"
            )
        log(f"linkpred oracle base tables built in {time.time() - t0:.0f}s")
        o_parts = []
        for c in range(args.lp_chunks):
            tc = time.time()
            o_parts.append(
                con.execute(
                    "WITH "
                    + lp_tail_sql(
                        chunk=(c, args.lp_chunks),
                        adjw="vt_lp_adjw",
                        und="vt_lp_und",
                        deg="vt_lp_deg",
                    )
                ).fetchdf()
            )
            log(
                f"linkpred oracle chunk {c + 1}/{args.lp_chunks} in "
                f"{time.time() - tc:.0f}s"
            )
        o_merged = _lp_merge(o_parts)
        probs = compare(
            spark_results["q_link_prediction"], o_merged, "q_link_prediction"
        )
        status = "ok" if not probs else "FAIL"
        log(
            f"q_link_prediction ({args.lp_chunks}-chunked both engines): "
            f"{status} ({len(o_merged)} rows) {probs[:2]} "
            f"[total oracle {time.time() - t0:.0f}s]"
        )
        if probs:
            failures.append("q_link_prediction")

    if "assort" in checks:
        # the committed whole-space oracle is tractable at native scale
        # (one edge⋈degree join + a 4-value aggregate) — run it verbatim
        t0 = time.time()
        check(
            "q_degree_assortativity",
            registry.ORACLE["q_degree_assortativity"],
        )
        log(f"assortativity oracle+compare took {time.time() - t0:.0f}s")

    if failures:
        log(f"FAILURES: {failures}")
        return 1
    log("all selected sf10 tail checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
