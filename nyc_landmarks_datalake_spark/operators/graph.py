"""Duplicate-cluster resolution: connected components over the union of
verified MinHash-LSH near-dup pairs AND exact-duplicate star edges, by
iterative min-label propagation.

The canonical last step of web-scale dedup: pairs → clusters → one
canonical doc per cluster. The DataFrame loop below IS the Pregel
pattern (messages = neighbor labels, combiner = MIN, vertex update =
least), which is how GraphX/GraphFrames implement it; at 100 TB each
iteration is one shuffle of the (tiny) edge set joined against labels,
and the iteration count is the cluster diameter — near-dup clusters are
quasi-cliques, so it converges in 2–4 rounds. ``localCheckpoint`` cuts
the growing lineage each round (otherwise plan size doubles per
iteration).

The exact-dedup star edges (dedup.exact_dup_edges) matter: the
df-capped verification Jaccard scores every pair inside a
>MAX_SHINGLE_DF byte-identical template group 0, so LSH pairs alone
would leave exactly the headline web-dedup target (massive template
groups) undeduped. The star union restores that class at O(group) cost.

Oracle: the same fixpoint expressed as a DuckDB recursive CTE —
min(label over the reachable set) per vertex — giving the iterative
algorithm a full value-level parity check rather than a rows-only one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.functions import bcast
from nyc_landmarks_datalake_spark.functions.bcast import bcast_if
from nyc_landmarks_datalake_spark.functions.hashing import (
    md5_long,
    md5_long_sql,
)
from nyc_landmarks_datalake_spark.operators.agreement import (
    _DUCK_INT,
    _SPARK_INT,
    _lnfp_steps,
)
from nyc_landmarks_datalake_spark.operators.dedup import (
    EXACT_DUP_EDGES_SQL,
    LSH_PAIR_CTES,
    exact_dup_edges,
)
from nyc_landmarks_datalake_spark.registry import QUERIES, query
from nyc_landmarks_datalake_spark.sources.catalog import table

MAX_ITERS = 20
#: with algorithm='auto', plain propagation runs for this many rounds
#: before pointer jumping kicks in — quasi-clique near-dup graphs
#: converge within it and never pay the jump self-join; chain-shaped
#: components (mega-bucket fallback) escalate automatically.
AUTO_JUMP_AFTER = 3


def connected_components(
    pairs: DataFrame,
    algorithm: str = "plain",
    stats: dict | None = None,
) -> DataFrame:
    """(doc1, doc2) undirected pair list → (doc_id, cluster_id) with
    cluster_id = min doc id reachable from the vertex.

    ``algorithm='plain'`` converges in O(cluster diameter) rounds —
    right for near-dup graphs, whose clusters are quasi-cliques.
    ``algorithm='jump'`` adds pointer jumping (label := label's label)
    every round, converging in O(log diameter) — for graphs known to be
    chain-shaped, at the cost of one extra self-join of the (small)
    label table per round. ``algorithm='auto'`` starts plain and
    enables jumping from round AUTO_JUMP_AFTER on: clique-like graphs
    (the common case) finish before ever paying for a jump, long chains
    still converge in O(log n) — this is the adaptive default for the
    dedup pipeline, where chains only exist if some band bucket hit
    MAX_BAND_BUCKET.

    Pass a dict as ``stats`` to receive convergence telemetry:
    ``iterations`` (rounds run) and ``changed`` (labels moved per
    round, last entry 0 on convergence) — the per-round driver-side
    ``count()`` already exists for convergence detection, so recording
    it is free. Tests pin the iteration budget with this."""
    import warnings

    if algorithm not in ("plain", "jump", "auto"):
        raise ValueError(
            f"algorithm must be 'plain', 'jump' or 'auto', got {algorithm!r}"
        )
    fwd = pairs.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst"))
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("lbl", F.col("doc"))
        .localCheckpoint()
    )
    changed_per_round: list[int] = []
    for it in range(MAX_ITERS):
        jumping = algorithm == "jump" or (
            algorithm == "auto" and it >= AUTO_JUMP_AFTER
        )
        nbr = (
            edges.join(labels, edges.src == labels.doc)
            .groupBy(F.col("dst").alias("ndoc"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        # the update carries the previous label alongside so convergence
        # detection is a filter over the checkpointed frame — no extra
        # old-vs-new join per round
        upd = labels.join(nbr, labels.doc == nbr.ndoc, "left_outer").select(
            "doc",
            F.col("lbl").alias("__old"),
            F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
        )
        if jumping:
            # label := label-of-label; every label is a vertex id (min
            # over the vertex set), so the inner join is total.
            jump = upd.select(F.col("doc").alias("jdoc"), F.col("lbl").alias("jlbl"))
            upd = upd.join(jump, upd.lbl == jump.jdoc).select(
                "doc", "__old", F.col("jlbl").alias("lbl")
            )
        # lazy checkpoint + count fusion (r17, guide §2.4/§5): the
        # convergence count is the FIRST action on the lazily-marked
        # frame, so one job both materializes the round's state (every
        # partition is computed and cached by the narrow filter) and
        # counts the moved labels — the eager form ran a separate
        # checkpoint job per round ahead of the count
        new_labels = upd.localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("lbl") != F.col("__old")).count()
        changed_per_round.append(changed)
        labels = new_labels.drop("__old")
        if changed == 0:
            break
    else:
        # the loop exhausted MAX_ITERS with labels still moving —
        # components wider than the iteration budget would come back
        # split. Surface it instead of returning silently-wrong labels.
        if changed:
            warnings.warn(
                f"connected_components did not converge in {MAX_ITERS} "
                f"iterations ({changed} labels still changing); raise "
                "MAX_ITERS or use algorithm='jump' for long-chain graphs",
                RuntimeWarning,
                stacklevel=2,
            )
    if stats is not None:
        stats["iterations"] = len(changed_per_round)
        stats["changed"] = changed_per_round
    return labels.select(
        F.col("doc").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def _dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering input: LSH-verified near-dup pairs ∪ exact-duplicate
    star edges. Duplicate edges between the two sources are harmless to
    min-label propagation (the MIN combiner dedups), so no distinct."""
    lsh = QUERIES["q_dedup_minhash_lsh"](spark, sf_dir).select("doc1", "doc2")
    exact = exact_dup_edges(table(spark, sf_dir, "documents"))
    return lsh.unionByName(exact)


#: the oracle prelude of every dup-clustering query: LSH pairs ∪ exact
#: edges as a two-way edge list, then the recursive min-label
#: reachability ``reach`` (doc, lbl) over it
_REACH_CTES = f"""WITH RECURSIVE {LSH_PAIR_CTES},
    exact_edges AS ({EXACT_DUP_EDGES_SQL}),
    all_pairs AS (
        SELECT doc1, doc2 FROM lsh_pairs
        UNION ALL
        SELECT doc1, doc2 FROM exact_edges
    ),
    edges AS (
        SELECT doc1 AS src, doc2 AS dst FROM all_pairs
        UNION ALL
        SELECT doc2 AS src, doc1 AS dst FROM all_pairs
    ),
    verts AS (SELECT DISTINCT src AS doc FROM edges),
    reach AS (
        SELECT doc, doc AS lbl FROM verts
        UNION
        SELECT e.dst AS doc, r.lbl
        FROM reach r JOIN edges e ON e.src = r.doc
    )"""


@query(
    "q_dup_clusters",
    sql=f"""
    {_REACH_CTES}
    SELECT doc AS doc_id, MIN(lbl) AS cluster_id
    FROM reach GROUP BY doc
    """,
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return connected_components(_dup_pairs(spark, sf_dir), algorithm="auto")


# ---------------------------------------------------------------------------
# Dedup applied end-to-end: keep one canonical doc (min id) per
# near-dup/exact-dup cluster and census the surviving corpus — the
# actual deliverable of a dedup pipeline. Non-canonical members
# anti-join out of the corpus; at 100 TB the drop list is tiny (dup
# members only) and broadcasts.
# ---------------------------------------------------------------------------
@query(
    "q_dedup_apply",
    sql=f"""
    {_REACH_CTES},
    clusters AS (
        SELECT doc, MIN(lbl) AS cluster_id FROM reach GROUP BY doc
    ),
    dropped AS (SELECT doc FROM clusters WHERE doc <> cluster_id)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE doc_id NOT IN (SELECT doc FROM dropped)
    GROUP BY 1
    """,
)
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = connected_components(_dup_pairs(spark, sf_dir), algorithm="auto")
    dropped = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    docs = table(spark, sf_dir, "documents")
    # No broadcast hint: at a high dup rate the drop list is O(corpus) —
    # billions of ids at 100 TB — so a mandatory broadcast would OOM the
    # driver. Catalyst's size-based threshold still broadcasts when the
    # list is actually small; otherwise a shuffled anti-join is correct.
    return (
        docs.join(dropped, "doc_id", "left_anti")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-point PageRank over the customer–supplier purchase graph
# (orders ⋈ lineitem projected to distinct (custkey, suppkey) edges,
# undirected as two directed edges). ENTIRELY integer arithmetic:
# ranks live in fixed-point units of 1e-12 (initial mass 10^12 split
# by integer division; per-edge contribution pr div deg; damping as
# (85 * sum) div 100) so every value is bit-exact BIGINT in both
# engines — no float summation order to disagree on, by construction.
#
# Scale posture mirrors connected_components: each iteration is one
# join of the edge list against the current rank vector plus one
# hash-agg on dst — shuffle size O(edges), map-side combinable. The
# iteration count is FIXED (PR_ITERS), not convergence-polled, so no
# per-round driver round-trip. deg rides inside the rank frame after
# the first join, and the supplier side is offset into its own id
# space so one BIGINT node column serves both partitions.
# ---------------------------------------------------------------------------
PR_ITERS = 2
#: supplier ids are shifted into their own space so one BIGINT node
#: column serves both bipartite sides. Valid while customer ids stay
#: below the offset: c_custkey = 150,000×sf crosses 10M at sf≈66 —
#: beyond that the offset must be raised (which invalidates every
#: committed graph oracle; see the LPA block comment).
PR_SUPP_OFFSET = 10_000_000
PR_MASS = 10**12  # total initial rank in 1e-12 fixed-point units

#: DuckDB body of the distinct (customer, supplier) purchase pairs; each
#: oracle wraps it in its own CTE header (name, MATERIALIZED or not)
_PAIRS_SQL = """SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey"""


def _two_way_sql(pairs: str) -> str:
    """DuckDB body of the two-way (src, dst) edge list over the (c, s)
    rows of the CTE ``pairs``, suppliers offset by PR_SUPP_OFFSET."""
    return f"""SELECT c AS src, s + {PR_SUPP_OFFSET} AS dst FROM {pairs}
        UNION ALL
        SELECT s + {PR_SUPP_OFFSET} AS src, c AS dst FROM {pairs}"""


def _purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (c, s) = (customer, supplier) pairs linked by a lineitem
    of one of the customer's orders."""
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )


def _two_way(pairs: DataFrame) -> DataFrame:
    """(c, s) pairs → the bipartite graph's (src, dst) edges in both
    directions, suppliers offset by PR_SUPP_OFFSET."""
    return pairs.select(
        F.col("c").alias("src"), (F.col("s") + PR_SUPP_OFFSET).alias("dst")
    ).unionAll(
        pairs.select(
            (F.col("s") + PR_SUPP_OFFSET).alias("src"), F.col("c").alias("dst")
        )
    )


def _pagerank_sql() -> str:
    """DuckDB mirror: CTE chain pr0 → pr1 → ... → pr{PR_ITERS}."""
    ctes = [
        f"""pe0 AS (
        {_PAIRS_SQL}
    ),
    pedges AS (
        {_two_way_sql("pe0")}
    ),
    pdeg AS (SELECT src, COUNT(*) AS deg FROM pedges GROUP BY 1),
    pn AS (SELECT COUNT(*) AS n_nodes FROM pdeg),
    pr0 AS (
        SELECT src AS node, deg,
               CAST({PR_MASS} // (SELECT n_nodes FROM pn) AS BIGINT) AS pr
        FROM pdeg
    )"""
    ]
    for i in range(1, PR_ITERS + 1):
        ctes.append(f"""pr{i} AS (
        SELECT p.node, p.deg,
               CAST((15 * {PR_MASS}) // (100 * (SELECT n_nodes FROM pn))
                    + (85 * SUM(q.pr // q.deg)) // 100 AS BIGINT) AS pr
        FROM pedges e
        JOIN pr{i - 1} q ON q.node = e.src
        JOIN pr{i - 1} p ON p.node = e.dst
        GROUP BY p.node, p.deg
    )""")
    return ",\n    ".join(ctes)


@query(
    "q_pagerank_purchases",
    sql=f"""
    WITH {_pagerank_sql()}
    SELECT node, pr AS rank_e12, CAST(deg AS BIGINT) AS deg
    FROM pr{PR_ITERS}
    """,
)
def q_pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _two_way(_purchase_pairs(spark, sf_dir)).localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    pr = (
        deg.withColumnRenamed("src", "node")
        .crossJoin(F.broadcast(n_nodes))
        .select(
            "node",
            "deg",
            "n_nodes",
            F.expr(f"CAST({PR_MASS} AS BIGINT) div n_nodes").alias("pr"),
        )
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(
                pr.select(
                    F.col("node").alias("src"),
                    F.expr("pr div deg").alias("give"),
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum("give").alias("in_sum"))
        )
        pr = (
            pr.select("node", "deg", "n_nodes")
            .join(contrib.withColumnRenamed("dst", "node"), "node")
            .select(
                "node",
                "deg",
                "n_nodes",
                (
                    F.expr(f"CAST(15 * {PR_MASS} AS BIGINT) div (100 * n_nodes)")
                    + F.expr("CAST(85 AS BIGINT) * in_sum div 100")
                ).alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return pr.select(
        "node", F.col("pr").alias("rank_e12"), F.col("deg").cast("long").alias("deg")
    )


# ---------------------------------------------------------------------------
# Triangle counting + global clustering coefficient over the in-order
# co-purchase part graph (parts bought together in one order; orders
# carry 1-7 lineitems, so the per-order pair fan-out is bounded at 21
# and the edge build never blows up).
#
# Scale posture: the naive 3-way self-join explodes on hub nodes
# (a node of degree d contributes d^2 candidate wedges). The classic
# fix — and what we implement for real — is DEGREE ORIENTATION
# (compact-forward): orient every undirected edge from its
# lower-(degree, node) endpoint to the higher one. Every triangle then
# has exactly ONE "apex" node with two out-edges, and each node's
# out-degree is O(sqrt(edges)) in the worst case, so the wedge join is
# bounded regardless of hubs. The order key (deg * 1e8 + node) is a
# plain BIGINT computed identically in both engines.
# ---------------------------------------------------------------------------
_TRI_OKEY = 100_000_000  # node ids < 1e8 at every supported sf


def copurchase_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-purchase edges (u < v by partkey): parts
    that appear together on at least one order. Shared spine of the
    triangle census, link prediction and degree assortativity — one
    self-join on l_orderkey + a distinct, Θ(Σ parts-per-order²) rows
    before dedup (parts-per-order is bounded by order size, never by
    graph degree, so this is hub-proof at any scale)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )


def oriented_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented distinct co-purchase edges (src -> dst, okey asc)."""
    # checkpoint + count: the edge count gates the orientation-key
    # broadcasts below (r17 size-guard — the r16 hints were
    # unconditional), and the count doubles as the materialization the
    # deg agg and the orientation join reuse
    und = copurchase_und(spark, sf_dir).localCheckpoint(eager=False)
    n_und = und.count()
    both = und.select("u", "v").unionAll(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    okey = deg.select(
        F.col("u").alias("node"),
        (F.col("deg").cast("long") * _TRI_OKEY + F.col("u")).alias("okey"),
        "deg",
    )
    ku = okey.select(F.col("node").alias("u"), F.col("okey").alias("ok_u"))
    kv = okey.select(F.col("node").alias("v"), F.col("okey").alias("ok_v"))
    # broadcast the V-row orientation keys onto the E-row edge list
    # (guide §3.1: without the hint both attachments sort-merge-join —
    # two exchanges + sorts of the edge list for V-row build sides).
    # V <= 2·|und| bounds the build side, so the gate can only
    # suppress an oversized broadcast, never force one; above the
    # threshold the planner falls back to the shuffle join.
    return (
        und.join(bcast_if(ku, 2 * n_und), "u")
        .join(bcast_if(kv, 2 * n_und), "v")
        .select(
            F.when(F.col("ok_u") < F.col("ok_v"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("src"),
            F.when(F.col("ok_u") < F.col("ok_v"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("dst"),
            F.when(F.col("ok_u") < F.col("ok_v"), F.col("ok_u"))
            .otherwise(F.col("ok_v"))
            .alias("ok_src"),
            F.when(F.col("ok_u") < F.col("ok_v"), F.col("ok_v"))
            .otherwise(F.col("ok_u"))
            .alias("ok_dst"),
        )
    )


_TRI_CTES = f"""
    tri_und AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri_both AS (
        SELECT u, v FROM tri_und
        UNION ALL
        SELECT v AS u, u AS v FROM tri_und
    ),
    tri_deg AS (SELECT u AS node, COUNT(*) AS deg FROM tri_both GROUP BY 1),
    tri_okey AS (
        SELECT node, CAST(deg AS BIGINT) * {_TRI_OKEY} + node AS okey, deg
        FROM tri_deg
    ),
    tri_or AS (
        SELECT CASE WHEN ku.okey < kv.okey THEN e.u ELSE e.v END AS src,
               CASE WHEN ku.okey < kv.okey THEN e.v ELSE e.u END AS dst,
               CASE WHEN ku.okey < kv.okey THEN ku.okey ELSE kv.okey END AS ok_src,
               CASE WHEN ku.okey < kv.okey THEN kv.okey ELSE ku.okey END AS ok_dst
        FROM tri_und e
        JOIN tri_okey ku ON ku.node = e.u
        JOIN tri_okey kv ON kv.node = e.v
    )"""


@query(
    "q_triangle_count",
    sql=f"""
    WITH {_TRI_CTES},
    tri_wedge AS (
        SELECT e1.dst AS b, e2.dst AS c
        FROM tri_or e1
        JOIN tri_or e2
          ON e1.src = e2.src AND e1.ok_dst < e2.ok_dst
    ),
    tri_cnt AS (
        SELECT COUNT(*) AS n_triangles
        FROM tri_wedge w
        JOIN tri_or e ON e.src = w.b AND e.dst = w.c
    )
    SELECT (SELECT COUNT(*) FROM tri_deg) AS n_nodes,
           (SELECT COUNT(*) FROM tri_und) AS n_edges,
           (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM tri_deg)
               AS n_wedges,
           (SELECT n_triangles FROM tri_cnt) AS n_triangles
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles + wedges of the co-purchase graph (one-row summary).

    Edge-iterator over the degree-oriented graph: a triangle with okey
    order a < b < c is found exactly once at its edge (a, b) as
    ``c ∈ outadj(a) ∩ outadj(b)``, so
    ``n_triangles = Σ_edges |outadj(src) ∩ outadj(dst)|`` — one
    adjacency groupBy plus two hash joins that attach neighbor arrays
    to each edge, with the Θ(Σ outdeg²) intersection work done
    MAP-SIDE by ``array_intersect`` instead of materializing wedge
    rows. The previous wedge-join shape generated + shuffled one row
    per oriented wedge (~37M at sf0.1, graph avg degree ~120) and cost
    7 s in the closing self-join; this form produces zero intermediate
    rows beyond the edges themselves and measured 2.3x faster
    end-to-end (10.2 s → 4.4 s, same counts). Orientation still bounds
    every outadj at O(sqrt(edges)), so per-row intersection cost is
    hub-proof at any scale; the arrays ride the join replicated
    deg(node) times, which is the same Θ(Σ deg·outdeg) volume the
    wedge shuffle carried, in far fewer rows. The DuckDB oracle keeps
    the wedge-join CTE formulation — two independently-derived
    algorithms agreeing on the count is stronger parity than a
    mirrored one.
    """
    edges = (
        oriented_copurchase_edges(spark, sf_dir)
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    # one pass over the cached oriented edges: the count gates the two
    # adjacency broadcasts (total payload = E array entries, so the
    # edge count IS the broadcast size in rows — r17 size-guard; the
    # r16 hints were unconditional and at 100 TB would blow the 8 GB
    # cap instead of degrading to a shuffle join)
    n_dir = edges.count()
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    adj = (
        edges.groupBy("src")
        .agg(F.collect_list("dst").alias("nbrs"))
        .localCheckpoint(eager=False)
    )
    # the adjacency-array relation is V rows (arrays total E entries —
    # ~10 MB at sf0.1); broadcasting it twice replaces two
    # exchange+sort passes over the E-row oriented edge list (guide
    # §3.1); above the gate the planner shuffle-joins instead
    tri = (
        edges.join(
            bcast_if(
                adj.select(
                    F.col("src").alias("src"), F.col("nbrs").alias("na")
                ),
                n_dir,
            ),
            "src",
        )
        .join(
            bcast_if(
                adj.select(
                    F.col("src").alias("dst"), F.col("nbrs").alias("nb")
                ),
                n_dir,
            ),
            "dst",
        )
        .select(F.size(F.array_intersect("na", "nb")).alias("k"))
        # coalesce: SUM over zero rows is NULL, but a graph with no
        # directed 2-paths has 0 triangles (the oracle's COUNT(*) says 0)
        .agg(F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("n_triangles"))
    )
    summary = (
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(
                (F.col("deg").cast("long") * (F.col("deg") - 1)).cast("long")
            ).alias("wedge2"),
        )
        .crossJoin(F.broadcast(edges.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(tri))
    )
    return summary.select(
        "n_nodes",
        "n_edges",
        F.expr("wedge2 div 2").alias("n_wedges"),
        "n_triangles",
    )


# ---------------------------------------------------------------------------
# Fixed-depth BFS (unweighted shortest hops) over the customer–supplier
# purchase graph, sources = customers of one nation. Iterative relax:
# dist_{i+1}(v) = min(dist_i(v), 1 + min over in-edges dist_i(u)) —
# Bellman-Ford restricted to hop counts, unrolled a FIXED number of
# rounds (no convergence polling, no driver round-trip). Each round is
# one edge⋈dist join + one min-agg: shuffle O(edges), map-side
# combinable, lineage cut per round. The oracle is the identical
# unrolled CTE chain, so the iterative algorithm gets full value-level
# parity. Depth 4 covers the reachable set of the bipartite purchase
# graph at test sf (diameter is tiny); at 100 TB you raise BFS_DEPTH,
# not the per-round cost.
# ---------------------------------------------------------------------------
BFS_DEPTH = 4
BFS_NATION = 7  # GERMANY in the TPC-H nation fixture


def _bfs_sql() -> str:
    ctes = [
        f"""bfs_e0 AS (
        {_PAIRS_SQL}
    ),
    bfs_edges AS (
        {_two_way_sql("bfs_e0")}
    ),
    bfs_d0 AS (
        SELECT c_custkey AS node, 0 AS dist
        FROM customer WHERE c_nationkey = {BFS_NATION}
    )"""
    ]
    for i in range(1, BFS_DEPTH + 1):
        ctes.append(f"""bfs_d{i} AS (
        SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM bfs_d{i - 1}
            UNION ALL
            SELECT e.dst AS node, d.dist + 1 AS dist
            FROM bfs_edges e JOIN bfs_d{i - 1} d ON d.node = e.src
        ) GROUP BY node
    )""")
    return ",\n    ".join(ctes)


@query(
    "q_bfs_hops",
    sql=f"""
    WITH {_bfs_sql()}
    SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_nodes,
           MIN(node) AS min_node, MAX(node) AS max_node,
           CAST(SUM(node) AS BIGINT) AS sum_node
    FROM bfs_d{BFS_DEPTH}
    GROUP BY dist
    """,
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance census from GERMANY customers over purchase edges."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    edges = _two_way(_purchase_pairs(spark, sf_dir)).localCheckpoint(eager=False)
    dist = cust.filter(F.col("c_nationkey") == BFS_NATION).select(
        F.col("c_custkey").alias("node"), F.lit(0).alias("dist")
    )
    for _ in range(BFS_DEPTH):
        relaxed = edges.join(
            dist.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist.groupBy(F.col("dist").cast("long").alias("dist")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
        F.sum("node").cast("long").alias("sum_node"),
    )


# ---------------------------------------------------------------------------
# Degree distribution in floor-log2 buckets — the standard first look
# at a graph's shape (power-law tail vs uniform). Bucket = number of
# bits in the degree (integer-exact in both engines: Spark bit_length
# arithmetic vs DuckDB's; here computed as length of the binary
# representation via log-free integer ops).
# ---------------------------------------------------------------------------
@query(
    "q_degree_distribution",
    sql=f"""
    WITH {_TRI_CTES}
    SELECT CAST(length(bin(deg)) AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(deg) AS BIGINT) AS min_deg,
           CAST(MAX(deg) AS BIGINT) AS max_deg,
           CAST(SUM(deg) AS BIGINT) AS sum_deg
    FROM tri_deg
    GROUP BY 1
    """,
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph degree histogram (floor-log2 buckets)."""
    # per-node degree from the undirected incidence (the same
    # tri_both/tri_deg relation the oracle's CTE chain uses)
    und = copurchase_und(spark, sf_dir)
    both = und.select("u", "v").unionAll(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    bucket = F.length(F.expr("bin(deg)")).cast("long")
    return deg.groupBy(bucket.alias("log2_bucket")).agg(
        F.count("*").alias("n_nodes"),
        F.min("deg").cast("long").alias("min_deg"),
        F.max("deg").cast("long").alias("max_deg"),
        F.sum("deg").cast("long").alias("sum_deg"),
    )


# ---------------------------------------------------------------------------
# Soft dedup: instead of dropping non-canonical near-dup members, give
# every doc a training weight of 1/cluster_size (integer ppm) — the
# downweighting alternative (SlimPajama/Dolma-style) that preserves
# unbiased corpus statistics while suppressing duplicate
# over-representation. Reuses the exact∪LSH cluster labeling; the
# per-source census sums the weights (the source's EFFECTIVE dataset
# size × 1e6). At 100 TB the extra cost over clustering is one count
# per cluster + one weight join — both keyed on cluster_id, the
# partitioning the labeling already produced.
# ---------------------------------------------------------------------------
@query(
    "q_soft_dedup_weights",
    sql=f"""
    {_REACH_CTES},
    clusters AS (
        SELECT doc, MIN(lbl) AS cluster_id FROM reach GROUP BY doc
    ),
    sizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cl_size
        FROM clusters GROUP BY 1
    ),
    wts AS (
        SELECT d.source,
               CAST(COALESCE(1000000 // s.cl_size, 1000000) AS BIGINT)
                   AS weight_ppm,
               CAST(COALESCE(s.cl_size, 1) AS BIGINT) AS cl_size
        FROM documents d
        LEFT JOIN clusters c ON c.doc = d.doc_id
        LEFT JOIN sizes s ON s.cluster_id = c.cluster_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cl_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_downweighted,
           CAST(SUM(weight_ppm) AS BIGINT) AS sum_weight_ppm,
           CAST(MAX(cl_size) AS BIGINT) AS max_cluster
    FROM wts
    GROUP BY 1
    """,
)
def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = connected_components(_dup_pairs(spark, sf_dir), algorithm="auto")
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cl_size")
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    # clusters/sizes cover only near-dup members (tiny next to the
    # corpus) but sit behind the CC loop's localCheckpoint, which
    # erases the stats that would let the planner broadcast them itself.
    # Size-guarded (r17): at a pathological dup rate the member list is
    # O(corpus), so the hint must degrade to a shuffle join above the
    # threshold instead of OOMing the driver; the count is one pass
    # over the CC loop's already-checkpointed label blocks.
    n_members = clusters.count()
    wts = (
        docs.join(bcast_if(clusters, n_members), "doc_id", "left")
        .join(bcast_if(sizes, n_members), "cluster_id", "left")
        .selectExpr(
            "source",
            "CAST(coalesce(1000000 div cl_size, 1000000) AS BIGINT)"
            " AS weight_ppm",
            "CAST(coalesce(cl_size, 1) AS BIGINT) AS cl_size",
        )
    )
    return wts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("cl_size") > 1).cast("int"))
        .cast("long")
        .alias("n_downweighted"),
        F.sum("weight_ppm").cast("long").alias("sum_weight_ppm"),
        F.max("cl_size").cast("long").alias("max_cluster"),
    )


# ---------------------------------------------------------------------------
# k-core decomposition (coreness per vertex) of the customer-supplier
# purchase graph — the graph tier's density layer next to PageRank
# (centrality), triangles (local clustering), BFS (reachability), and
# CC (labeling). Coreness(v) = the largest k such that v survives in
# the subgraph where every vertex keeps degree >= k; the standard
# "dense-subgraph peel depth" used to pick influential/spam-core nodes.
#
# Algorithm: the locally-iterative H-index fixpoint (Lü et al. 2016,
# "The H-index of a network node and its relation to degree and
# coreness"): start core = degree, repeat core(v) <- min(core(v),
# H(neighbor cores)) until no vertex changes; the fixpoint IS the
# coreness. The H-index uses the distinct-value identity
#     H(values) = max over distinct c of min(c, |{v >= c}|),
# computed as a (node, nb_core) COUNT histogram + a running sum over
# nb_core DESC — window partitions are bounded by the node's number of
# DISTINCT neighbor-core values (<= max coreness), never its degree,
# so hub vertices with 10^6 neighbors at 100 TB cost a hash agg, not a
# giant sorted window. Per iteration: one join of the directed edge
# list to the (node, core) relation + two bounded aggs; the purchase
# graph converges in 1/3/5 rounds at sf0.001/0.01/0.1 (log-ish in sf).
#
# Oracle: the same iteration unrolled KCORE_ORACLE_ITERS times as
# MATERIALIZED CTEs (each stage references the previous TWICE — without
# MATERIALIZED, DuckDB's default CTE inlining plans in 2^N time, the
# documented wordpiece trap). The fixpoint is stable, so the oracle
# running PAST convergence changes nothing; Spark exits early and
# RAISES if the budget is hit with labels still moving (never returns
# silently-unconverged coreness). Value parity is therefore independent
# of the two engines' iteration counts.
# ---------------------------------------------------------------------------
KCORE_MAX_ITERS = 16
KCORE_ORACLE_ITERS = 16


def kcore_step_sql(prev: str, edges: str = "kedges") -> str:
    """One H-index update step in DuckDB SQL, as a SELECT from the
    previous (node, core) relation ``prev`` and the directed edge
    relation ``edges``. Shared verbatim between the committed unrolled
    oracle below and tools/verify_sf10_tail.py's table-stepped variant
    (the committed 16-CTE single statement materializes every
    iteration at once — 74 GB of spill at sf10; the stepped driver
    runs the SAME text one iteration per statement with the previous
    table dropped, so the footprint is one iteration's)."""
    return f"""
        SELECT p.node, LEAST(p.core, h.h) AS core
        FROM {prev} p JOIN (
            SELECT node, CAST(MAX(LEAST(nb_core, cumc)) AS BIGINT) AS h
            FROM (
                SELECT node, nb_core,
                       SUM(cnt) OVER (PARTITION BY node
                                      ORDER BY nb_core DESC) AS cumc
                FROM (
                    SELECT e.src AS node, c.core AS nb_core,
                           CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM {edges} e JOIN {prev} c ON c.node = e.dst
                    GROUP BY 1, 2
                )
            ) GROUP BY node
        ) h ON h.node = p.node"""


def _kcore_sql() -> str:
    ctes = [
        f"""ke0 AS (
        {_PAIRS_SQL}
    ),
    kedges AS MATERIALIZED (
        {_two_way_sql("ke0")}
    ),
    kc0 AS MATERIALIZED (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core
        FROM kedges GROUP BY 1
    )"""
    ]
    for i in range(1, KCORE_ORACLE_ITERS + 1):
        ctes.append(
            f"kc{i} AS MATERIALIZED ({kcore_step_sql(f'kc{i - 1}')}\n    )"
        )
    return ",\n    ".join(ctes)


def coreness(
    edges: DataFrame,
    max_iters: int = KCORE_MAX_ITERS,
    stats: dict | None = None,
) -> DataFrame:
    """Directed (src, dst) edge list (both directions present) →
    (node, degree, core) coreness fixpoint; degree rides along so
    callers never rebuild the edge relation for it. Raises if
    ``max_iters`` passes with cores still moving — an unconverged
    decomposition is wrong for every vertex downstream of a moving
    one, so fail loud."""
    edges = edges.localCheckpoint(eager=False)
    cores = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("core"))
        .withColumn("degree", F.col("core"))
        .localCheckpoint()
    )
    changed = 0
    changed_per_round: list[int] = []
    # max_iters + 1 rounds: ``max_iters`` budgets UPDATES, matching the
    # oracle's KCORE_ORACLE_ITERS unconditional update steps; the +1
    # round is the zero-change CONFIRMATION a fixpoint loop needs on
    # top. Without it a graph converging at exactly the max_iters-th
    # update would raise here while the oracle's kc{max_iters} is
    # already the correct fixpoint (r13 ADVICE: the two budgets meant
    # different numbers of updates).
    for _ in range(max_iters + 1):
        hist = (
            edges.join(
                cores.select(
                    F.col("node").alias("dst"), F.col("core").alias("nb_core")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), "nb_core")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        from pyspark.sql import Window

        cum = hist.withColumn(
            "cumc",
            F.sum("cnt").over(
                Window.partitionBy("node").orderBy(F.col("nb_core").desc())
            ),
        )
        h = cum.groupBy("node").agg(
            F.max(F.least(F.col("nb_core"), F.col("cumc")))
            .cast("long")
            .alias("h")
        )
        upd = cores.join(h, "node").select(
            "node",
            "degree",
            F.col("core").alias("__old"),
            F.least(F.col("core"), F.col("h")).alias("core"),
        )
        # lazy checkpoint + count fusion (r17): one job materializes the
        # round's cores and counts the movers (see connected_components)
        new_cores = upd.localCheckpoint(eager=False)
        changed = new_cores.filter(F.col("core") != F.col("__old")).count()
        changed_per_round.append(changed)
        cores = new_cores.drop("__old")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"coreness did not converge within {max_iters} updates "
            f"(+1 confirming round; {changed} cores still decreasing); "
            "raise max_iters — an unconverged decomposition is silently "
            "wrong everywhere"
        )
    if stats is not None:
        stats["iterations"] = len(changed_per_round)
        stats["changed"] = changed_per_round
    return cores


@query(
    "q_kcore_decomposition",
    sql=f"""
    WITH {_kcore_sql()}
    SELECT d.node, d.core AS degree, kc{KCORE_ORACLE_ITERS}.core AS coreness
    FROM kc0 d JOIN kc{KCORE_ORACLE_ITERS} USING (node)
    """,
)
def q_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreness of every customer/supplier vertex in the purchase
    graph (suppliers offset by PR_SUPP_OFFSET), alongside degree."""
    return coreness(_two_way(_purchase_pairs(spark, sf_dir))).select(
        "node", "degree", F.col("core").alias("coreness")
    )


# ---------------------------------------------------------------------------
# Label-propagation communities (Raghavan et al. 2007, "Near linear time
# algorithm to detect community structures in large-scale networks") over
# the SAME-NATION purchase graph: customer ↔ supplier edges restricted to
# pairs sharing a nation — the domestic-trade subgraph, whose nation
# partitions give the label competition real structure (the full
# purchase graph is a dense random bipartite expander, on which LPA
# correctly floods to ONE community; same-nation edges yield 46
# communities at sf0.01 and 463 at sf0.1, none of them labeled by the
# component's min id — observably a frequency fixpoint, not connected
# components).
#
# Update rule (deterministic — classic LPA breaks ties randomly, which
# no cross-engine oracle can check): a node adopts the label most
# frequent among its neighbors, ties broken by SMALLEST label.
# Scheduling is SEMI-SYNCHRONOUS by bipartite side (customers update
# from supplier labels, then suppliers from the fresh customer labels —
# one "superstep"), the standard LPA discipline on bipartite graphs,
# where a fully synchronous sweep oscillates two-colorings forever.
#
# Hub safety: the per-node argmax over neighbor labels is TWO HASH
# AGGREGATES, never a sorted window — (node, label) counts, then
# MAX(cnt * LPA_PRI - lbl - 1) whose single BIGINT encodes (max count,
# then min label); the −1 shift makes the encode exact for label 0
# (the driver testdata's keys start at 0; the unshifted form decoded
# label 0 to LPA_PRI — r14 ADVICE); a 10^6-degree hub costs
# map-side-combinable aggs.
# Labels are node ids < LPA_PRI = 2^25 (suppliers offset by
# PR_SUPP_OFFSET reach ~11M at sf10) and counts stay below 2^38 before
# int64 overflow. NOTE the REAL bound on the bipartite offset scheme:
# c_custkey reaches 150,000×sf, so customer ids cross
# PR_SUPP_OFFSET = 10M at sf≈66 and would collide with supplier-offset
# ids (breaking the node < PR_SUPP_OFFSET side split used by LPA /
# kcore / harmonic / betweenness). Any run beyond sf66 must raise
# PR_SUPP_OFFSET first — a constant change that invalidates every
# committed graph oracle, so it is a deliberate, documented migration,
# not a tweak.
#
# Budgets (the r13 kcore ADVICE discipline): ``max_supersteps`` counts
# UPDATING supersteps with a zero-change confirming superstep on top,
# and the loop RAISES on exhaustion — LPA, unlike the monotone k-core
# update, has no convergence theorem, so an oscillating run must fail
# loud. The committed oracle unrolls LPA_ORACLE_SUPERSTEPS supersteps
# unconditionally: a converged state is a fixpoint of the step function,
# so unrolling PAST convergence changes nothing, and the unroll only
# needs to meet convergence at the scales the committed oracle runs
# (observed: 1 / 4 / 12 / 24 supersteps at sf0.001/0.01/0.1/sf1 —
# 32 covers the sweep tier with headroom; native sf1/sf10 verify via
# the table-stepped driver sharing lpa_step_sql, early-exiting at the
# fixpoint like tools/verify_sf10_tail --checks kcore). A graph that
# needed MORE than the unroll would otherwise mismatch confusingly
# against Spark's correct fixpoint, so the oracle carries a
# convergence guard (lpa_conv below): if the last unrolled superstep
# still moved labels, the oracle RAISES instead of returning a
# truncated labeling.
# ---------------------------------------------------------------------------
LPA_MAX_SUPERSTEPS = 64
LPA_ORACLE_SUPERSTEPS = 32
LPA_PRI = 1 << 25


def lpa_step_sql(prev: str, side: str, edges: str = "ledges") -> str:
    """One semi-synchronous LPA half-step in DuckDB SQL: nodes on
    ``side`` ('cust' = node < PR_SUPP_OFFSET, 'supp' = the rest) adopt
    their neighbors' most frequent label (ties → smallest), everyone
    else carries their label through. Shared verbatim between the
    committed unrolled oracle and the native-scale stepped verifier.

    Requires node ids (hence labels) in [0, LPA_PRI): the
    ``cnt * LPA_PRI - lbl - 1`` priority is exact on that range —
    lpa_communities() checks it; SQL-side callers must feed the same
    edge relations."""
    lo = side == "cust"
    pe = f"e.src < {PR_SUPP_OFFSET}" if lo else f"e.src >= {PR_SUPP_OFFSET}"
    pp = f"p.node < {PR_SUPP_OFFSET}" if lo else f"p.node >= {PR_SUPP_OFFSET}"
    return f"""
        SELECT p.node,
               CASE WHEN {pp} THEN COALESCE(b.lbl, p.lbl)
                    ELSE p.lbl END AS lbl
        FROM {prev} p LEFT JOIN (
            SELECT node,
                   ((best // {LPA_PRI}) + 1) * {LPA_PRI} - best - 1 AS lbl
            FROM (
                SELECT node, MAX(cnt * {LPA_PRI} - lbl - 1) AS best
                FROM (
                    SELECT e.src AS node, c.lbl,
                           CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM {edges} e JOIN {prev} c ON c.node = e.dst
                    WHERE {pe}
                    GROUP BY 1, 2
                ) GROUP BY node
            )
        ) b ON b.node = p.node"""


def _lpa_sql() -> str:
    # The same-nation edge build MUST flow the nation key through the
    # pair relation (pairs → +c_nationkey → supplier match), each step
    # behind a MATERIALIZED boundary so the optimizer cannot reorder
    # into customer ⋈ supplier ON nationkey first: that join is
    # |C|·|S|/25 rows — ~6e9 at sf10 (DuckDB misestimated it at 1.5M
    # and picked it as a hash-join build side; the r15 sf10 run sat
    # compute-bound for 30+ minutes at 55 GB RSS before being cut).
    # Flowed this way every intermediate is bounded by the distinct
    # purchase-pair count. The stepped native-scale verifier builds the
    # same three relations as separate temp tables.
    ctes = [
        f"""llp AS MATERIALIZED (
        {_PAIRS_SQL}
    ),
    llc AS MATERIALIZED (
        SELECT p.c, p.s, cu.c_nationkey AS nat
        FROM llp p JOIN customer cu ON cu.c_custkey = p.c
    ),
    ll0 AS (
        SELECT DISTINCT llc.c, llc.s
        FROM llc JOIN supplier su
          ON su.s_suppkey = llc.s AND su.s_nationkey = llc.nat
    ),
    ledges AS MATERIALIZED (
        {_two_way_sql("ll0")}
    ),
    lp0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, CAST(src AS BIGINT) AS lbl FROM ledges
    )"""
    ]
    for i in range(1, 2 * LPA_ORACLE_SUPERSTEPS + 1):
        side = "cust" if i % 2 == 1 else "supp"
        ctes.append(
            f"lp{i} AS MATERIALIZED ({lpa_step_sql(f'lp{i - 1}', side)}\n    )"
        )
    return ",\n    ".join(ctes)


def lpa_communities(
    edges: DataFrame,
    max_supersteps: int = LPA_MAX_SUPERSTEPS,
    stats: dict | None = None,
) -> DataFrame:
    """Directed (src, dst) edge list (both directions present, sides
    split by PR_SUPP_OFFSET) → (node, lbl) semi-synchronous LPA
    fixpoint. ``max_supersteps`` budgets UPDATING supersteps (cust
    half-step + supp half-step each) with one confirming superstep on
    top; raises on exhaustion — LPA has no convergence theorem, and an
    oscillating run must never return as if it were communities.

    Node ids MUST lie in [0, LPA_PRI): the single-BIGINT
    (count, −label) priority ``cnt * LPA_PRI - lbl - 1`` is exact on
    that range (the −1 shift exists precisely so label 0 decodes to 0
    — the unshifted form decoded it to LPA_PRI, r14 ADVICE), while
    ids ≥ LPA_PRI or negative collide across counts. The driver
    testdata's keys start at 0, so 0 is a REACHABLE label here — and
    this is a generic helper, so the range is CHECKED, not assumed
    (one cheap count over the checkpointed V-row label relation)."""
    edges = edges.localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node").cast("long"))
        .localCheckpoint()
    )
    n_bad = (
        labels.filter((F.col("node") < 0) | (F.col("node") >= LPA_PRI))
        .limit(1)
        .count()
    )
    if n_bad:
        raise ValueError(
            f"lpa_communities requires node ids in [0, {LPA_PRI}): the "
            "(count, -label) BIGINT priority is exact only on that "
            "range — ids outside it collide across counts; remap node "
            "ids before calling"
        )

    def half(lbls: DataFrame, side_lo: bool) -> DataFrame:
        side_e = (
            F.col("src") < PR_SUPP_OFFSET
            if side_lo
            else F.col("src") >= PR_SUPP_OFFSET
        )
        hist = (
            edges.filter(side_e)
            .join(
                lbls.select(
                    F.col("node").alias("dst"), F.col("lbl").alias("nlbl")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), "nlbl")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        new = (
            hist.groupBy("node")
            .agg(F.max(F.expr(f"cnt * {LPA_PRI} - nlbl - 1")).alias("best"))
            .select(
                "node",
                F.expr(
                    f"((best div {LPA_PRI}) + 1) * {LPA_PRI} - best - 1"
                ).alias("new_lbl"),
            )
        )
        side_n = (
            F.col("node") < PR_SUPP_OFFSET
            if side_lo
            else F.col("node") >= PR_SUPP_OFFSET
        )
        carry = [c for c in lbls.columns if c not in ("node", "lbl")]
        return lbls.join(new, "node", "left").select(
            "node",
            *carry,
            F.when(
                side_n & F.col("new_lbl").isNotNull(), F.col("new_lbl")
            )
            .otherwise(F.col("lbl"))
            .alias("lbl"),
        )

    changed = 0
    changed_per_step: list[int] = []
    for _ in range(max_supersteps + 1):
        # lazy checkpoint + count fusion (r17): one job materializes the
        # superstep's labels and counts the movers (see
        # connected_components)
        stepped = half(
            half(labels.withColumn("__old", F.col("lbl")), True), False
        ).localCheckpoint(eager=False)
        changed = stepped.filter(F.col("lbl") != F.col("__old")).count()
        changed_per_step.append(changed)
        labels = stepped.drop("__old")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"label propagation did not converge within {max_supersteps} "
            f"supersteps (+1 confirming; {changed} labels still moving) — "
            "an oscillating run is not a community structure; raise "
            "max_supersteps or inspect the graph"
        )
    if stats is not None:
        stats["supersteps"] = len(changed_per_step)
        stats["changed"] = changed_per_step
    return labels


@query(
    "q_label_propagation",
    # The unroll (LPA_ORACLE_SUPERSTEPS) is smaller than the Spark
    # budget (LPA_MAX_SUPERSTEPS), so a graph converging between the
    # two would make Spark return the true fixpoint while the oracle
    # silently returned a truncated labeling — a confusing value
    # mismatch. The lpa_conv guard turns that into a LOUD oracle error:
    # the final superstep must have changed nothing (lp{2N} == lp{2N-2}
    # node-for-node), i.e. the unrolled state IS a fixpoint. error() is
    # lazily evaluated only when the guard trips (verified DuckDB 1.0).
    sql=f"""
    WITH {_lpa_sql()},
    lpa_conv AS (
        SELECT COUNT(*) AS moved
        FROM lp{2 * LPA_ORACLE_SUPERSTEPS} a
        JOIN lp{2 * LPA_ORACLE_SUPERSTEPS - 2} b
          ON b.node = a.node AND b.lbl <> a.lbl
    )
    SELECT node,
           CASE WHEN (SELECT moved FROM lpa_conv) = 0 THEN lbl
                ELSE CAST(error(
                    'LPA oracle unroll ({LPA_ORACLE_SUPERSTEPS} '
                    'supersteps) did not reach a fixpoint — raise '
                    'LPA_ORACLE_SUPERSTEPS or verify stepped at this '
                    'scale') AS BIGINT)
           END AS community
    FROM lp{2 * LPA_ORACLE_SUPERSTEPS}
    """,
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic semi-synchronous label-propagation communities of
    the same-nation (domestic) purchase graph — customers ↔ suppliers
    sharing a nation, suppliers offset by PR_SUPP_OFFSET."""
    cu = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    su = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pairs = _purchase_pairs(spark, sf_dir)
    e0 = (
        pairs.join(cu, pairs.c == cu.c_custkey)
        .join(F.broadcast(su), pairs.s == su.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .select("c", "s")
    )
    return lpa_communities(_two_way(e0)).select(
        "node", F.col("lbl").alias("community")
    )


# ---------------------------------------------------------------------------
# Harmonic-closeness centrality sketch (Boldi & Vigna 2014, "Axioms for
# centrality": harmonic centrality Σ 1/d(p, v) is the closeness variant
# that stays well-defined on disconnected graphs) — estimated from a
# FIXED set of HC_PIVOTS deterministic pivot sources rather than all-V
# BFS (Eppstein-Wang style pivot sampling; exact all-pairs closeness is
# O(V·E) and off the table at 100 TB). Pivots are the HC_PIVOTS nodes
# with the smallest md5(node || ':pivot') — an unbiased, cross-engine-
# reproducible sample both engines select identically.
#
# The multi-source BFS carries ALL pivots as bits of one BIGINT per
# node (the classic bitmask MS-BFS compaction, cf. Then et al. 2014,
# "The more the merrier: efficient multi-source BFS"): state is
# (node, mask, reach, harm) — V rows, never pivots × V — and one round
# is ONE edges ⋈ state hash join + ONE bit_or hash aggregate over E
# rows, cost independent of the pivot count. Pivots whose bit first
# appears at round k sit at distance exactly k, so the harmonic sum
# accrues popcount(new bits) · (1e6 // k) — integer-exact, identical
# text both engines; new bits are (mask | nb) - mask (plain
# subtraction: mask's bits are a subset of mask | nb), avoiding any
# engine-specific bitwise-NOT. A naive (pivot, node) frontier form of
# this operator measured 38 s at sf0.1 — the bitmask form replaces the
# 16×-expanded frontier join with an E-row aggregate per round.
#
# Budget: raises if any mask still grew in round HC_MAX_ROUNDS — a
# truncated BFS silently under-reports every remaining distance; the
# committed oracle unrolls exactly the same budget (rounds past
# exhaustion are no-ops: bit_or of unchanged masks sets no new bits).
# ---------------------------------------------------------------------------
HC_PIVOTS = 16
HC_MAX_ROUNDS = 12
HC_ORACLE_ROUNDS = 12


def hc_step_sql(prev: str, k: int, edges: str = "hedges") -> str:
    """One bitmask MS-BFS round in DuckDB SQL over the
    (node, mask, reach, harm) relation ``prev``. Shared between the
    committed unrolled oracle and any native-scale stepped driver."""
    return f"""
        SELECT s.node,
               s.mask | COALESCE(nb.m, 0) AS mask,
               s.reach + bit_count((s.mask | COALESCE(nb.m, 0)) - s.mask)
                   AS reach,
               s.harm + bit_count((s.mask | COALESCE(nb.m, 0)) - s.mask)
                   * {1_000_000 // k} AS harm
        FROM {prev} s LEFT JOIN (
            SELECT e.dst AS node, bit_or(p.mask) AS m
            FROM {edges} e JOIN {prev} p ON p.node = e.src
            WHERE p.mask != 0
            GROUP BY e.dst
        ) nb ON nb.node = s.node"""


def _hc_sql() -> str:
    ctes = [
        f"""he0 AS (
        {_PAIRS_SQL}
    ),
    hedges AS MATERIALIZED (
        {_two_way_sql("he0")}
    ),
    hpiv AS MATERIALIZED (
        SELECT node,
               ROW_NUMBER() OVER (
                   ORDER BY {md5_long_sql("node::VARCHAR || ':pivot'")},
                            node) AS rk
        FROM (SELECT DISTINCT src AS node FROM hedges)
        ORDER BY {md5_long_sql("node::VARCHAR || ':pivot'")}, node
        LIMIT {HC_PIVOTS}
    ),
    hs0 AS MATERIALIZED (
        SELECT n.node,
               COALESCE((CAST(1 AS BIGINT) << (p.rk - 1)), 0) AS mask,
               CAST(0 AS BIGINT) AS reach, CAST(0 AS BIGINT) AS harm
        FROM (SELECT DISTINCT src AS node FROM hedges) n
        LEFT JOIN hpiv p ON p.node = n.node
    )"""
    ]
    for k in range(1, HC_ORACLE_ROUNDS + 1):
        ctes.append(
            f"hs{k} AS MATERIALIZED ({hc_step_sql(f'hs{k - 1}', k)}\n    )"
        )
    return ",\n    ".join(ctes)


#: the new-bits-this-round expression every MS-BFS accrual builds on —
#: references the PRE-update mask column and the aggregated neighbor
#: mask ``m`` inside the state-update select.
_MSBFS_NEWBITS = "bit_count((mask | COALESCE(m, 0)) - mask)"


def ms_bfs_state(
    edges: DataFrame,
    accruals: list,
    what: str,
    n_pivots: int = HC_PIVOTS,
    max_rounds: int = HC_MAX_ROUNDS,
    stats: dict | None = None,
    on_grow=None,
) -> DataFrame:
    """Shared bitmask multi-source-BFS driver: deterministic md5 pivot
    selection, V-row (node, mask, accruals…) state, and the grow loop —
    one E-row join + bit_or hash agg per round, lineage cut per round,
    early exit on a zero-growth confirming round, RAISE on budget
    exhaustion. Parameterized by ``accruals``: (name, k -> update-expr)
    pairs evaluated inside the state-update select, where the exprs see
    the PRE-update columns plus the neighbor mask ``m`` (build them on
    :data:`_MSBFS_NEWBITS`). ``on_grow(k, state)`` fires after every
    growing round (the distance-profile hook). The single home of the
    pivot/budget semantics shared by harmonic_sketch, closeness_sketch
    and distance_profile (r15 ADVICE: previously triplicated).

    ``max_rounds`` budgets GROWING rounds (= the max distance the
    oracle unroll covers), with one zero-growth confirming round on
    top — the kcore/LPA budget discipline: a graph whose last bit
    lands at exactly round max_rounds must succeed, not raise."""
    edges = edges.localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    from pyspark.sql import Window

    pivots = (
        nodes.select(
            "node",
            md5_long(
                F.concat(F.col("node").cast("string"), F.lit(":pivot"))
            ).alias("h"),
        )
        .orderBy("h", "node")
        .limit(n_pivots)
        .withColumn(
            "rk", F.row_number().over(Window.orderBy("h", "node"))
        )
        .select(
            "node",
            F.expr("shiftleft(CAST(1 AS BIGINT), rk - 1)").alias("pmask"),
        )
    )
    state = (
        nodes.join(F.broadcast(pivots), "node", "left")
        .select(
            "node",
            F.coalesce("pmask", F.lit(0)).cast("long").alias("mask"),
            *[F.lit(0).cast("long").alias(name) for name, _ in accruals],
        )
        .localCheckpoint()
    )
    grew_per_round: list[int] = []
    done = False
    for k in range(1, max_rounds + 2):
        # only nodes carrying bits can set new ones — at round 1 that's
        # just the pivots, so the filter keeps early rounds tiny
        nb = (
            edges.join(
                state.filter(F.col("mask") != 0).select(
                    F.col("node").alias("src"), "mask"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.expr("bit_or(mask)").alias("m"))
        )
        new_state = (
            state.join(nb, "node", "left")
            .select(
                "node",
                F.col("mask").alias("__old"),
                F.expr("mask | COALESCE(m, 0)").alias("mask"),
                *[F.expr(fn(k)).alias(name) for name, fn in accruals],
            )
            # lazy checkpoint + count fusion (r17): one job materializes
            # the round's state and counts the grown masks (see
            # connected_components)
            .localCheckpoint(eager=False)
        )
        grew = new_state.filter(F.col("mask") != F.col("__old")).count()
        grew_per_round.append(grew)
        state = new_state.drop("__old")
        if grew > 0 and on_grow is not None:
            on_grow(k, state)
        if grew == 0:
            done = True
            break
    if not done:
        raise RuntimeError(
            f"pivoted MS-BFS masks still growing after {max_rounds} "
            f"rounds — a truncated {what} under-reports every remaining "
            "distance; raise max_rounds (and the oracle unroll) together"
        )
    if stats is not None:
        stats["rounds"] = len(grew_per_round)
        stats["grew"] = grew_per_round
    return state


def harmonic_sketch(
    edges: DataFrame,
    n_pivots: int = HC_PIVOTS,
    max_rounds: int = HC_MAX_ROUNDS,
    stats: dict | None = None,
) -> DataFrame:
    """Directed (src, dst) edge list (both directions present) →
    (node, n_reached, harmonic_ppm) over the deterministic pivot set.
    Raises if any mask still grew in round ``max_rounds`` — a truncated
    sketch under-reports every remaining distance, and the committed
    oracle unrolls exactly this budget."""
    state = ms_bfs_state(
        edges,
        [
            ("reach", lambda k: f"reach + {_MSBFS_NEWBITS}"),
            ("harm", lambda k: f"harm + {_MSBFS_NEWBITS} * {1_000_000 // k}"),
        ],
        "harmonic sketch",
        n_pivots,
        max_rounds,
        stats,
    )
    return state.select(
        "node",
        F.col("reach").alias("n_reached"),
        F.col("harm").alias("harmonic_ppm"),
    )


@query(
    "q_harmonic_centrality",
    sql=f"""
    WITH {_hc_sql()}
    SELECT node, reach AS n_reached, harm AS harmonic_ppm
    FROM hs{HC_ORACLE_ROUNDS}
    """,
)
def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled harmonic closeness of every purchase-graph vertex:
    Σ over the HC_PIVOTS md5-chosen pivots of 1e6 // d(pivot, node),
    plus how many pivots reached it."""
    return harmonic_sketch(_two_way(_purchase_pairs(spark, sf_dir)))


# ---------------------------------------------------------------------------
# Classic-closeness + eccentricity sketch — the two remaining members
# of the distance-centrality family, from the SAME bitmask MS-BFS
# machinery as harmonic (Then et al. 2014; Boldi & Vigna 2014 for why
# harmonic is usually preferable on disconnected graphs — closeness and
# eccentricity are still standard reporting surface, so both ship).
# Identical pivot set (md5 ':pivot' salt, HC_PIVOTS) so the three
# centralities are directly comparable per node; identical state shape
# (V rows, one BIGINT mask) and per-round cost (one E-row join + one
# bit_or hash agg — pivot-count-independent); identical budget
# discipline (raises if masks still grow at max_rounds; the committed
# oracle unrolls exactly the budget — rounds past exhaustion set no new
# bits, so the fixed unroll equals the early-exited loop).
#
# Accruals per round k over new bits b = popcount((mask|nb) − mask):
#   dist_sum += b·k            (Σ distance to each REACHING pivot)
#   eccentricity = k if b > 0  (max distance over reaching pivots — a
#                               LOWER bound on true eccentricity, the
#                               standard pivot-sketch semantics)
# and the output derives closeness_ppm = reach·1e6 // dist_sum (the
# reciprocal of the mean pivot distance, Wasserman-Faust normalized to
# the reached set so disconnected nodes score 0, not ∞) — integer
# floor division on nonnegative values, bit-identical cross-engine.
# Self-distance never accrues: a pivot's own bit is set at round 0 and
# is never "new".
# ---------------------------------------------------------------------------


def ce_step_sql(prev: str, k: int, edges: str = "cedges") -> str:
    """One bitmask MS-BFS round in DuckDB SQL over the
    (node, mask, reach, dsum, ecc) relation ``prev``. Shared between
    the committed unrolled oracle and the native-scale stepped
    verifier (tools/verify_sf10_tail --checks closeness)."""
    newbits = f"bit_count((s.mask | COALESCE(nb.m, 0)) - s.mask)"
    return f"""
        SELECT s.node,
               s.mask | COALESCE(nb.m, 0) AS mask,
               s.reach + {newbits} AS reach,
               s.dsum + {newbits} * {k} AS dsum,
               CASE WHEN {newbits} > 0 THEN {k} ELSE s.ecc END AS ecc
        FROM {prev} s LEFT JOIN (
            SELECT e.dst AS node, bit_or(p.mask) AS m
            FROM {edges} e JOIN {prev} p ON p.node = e.src
            WHERE p.mask != 0
            GROUP BY e.dst
        ) nb ON nb.node = s.node"""


def _ce_sql() -> str:
    ctes = [
        f"""ce0 AS (
        {_PAIRS_SQL}
    ),
    cedges AS MATERIALIZED (
        {_two_way_sql("ce0")}
    ),
    cpiv AS MATERIALIZED (
        SELECT node,
               ROW_NUMBER() OVER (
                   ORDER BY {md5_long_sql("node::VARCHAR || ':pivot'")},
                            node) AS rk
        FROM (SELECT DISTINCT src AS node FROM cedges)
        ORDER BY {md5_long_sql("node::VARCHAR || ':pivot'")}, node
        LIMIT {HC_PIVOTS}
    ),
    cs0 AS MATERIALIZED (
        SELECT n.node,
               COALESCE((CAST(1 AS BIGINT) << (p.rk - 1)), 0) AS mask,
               CAST(0 AS BIGINT) AS reach, CAST(0 AS BIGINT) AS dsum,
               CAST(0 AS BIGINT) AS ecc
        FROM (SELECT DISTINCT src AS node FROM cedges) n
        LEFT JOIN cpiv p ON p.node = n.node
    )"""
    ]
    for k in range(1, HC_ORACLE_ROUNDS + 1):
        ctes.append(
            f"cs{k} AS MATERIALIZED ({ce_step_sql(f'cs{k - 1}', k)}\n    )"
        )
    return ",\n    ".join(ctes)


def closeness_sketch(
    edges: DataFrame,
    n_pivots: int = HC_PIVOTS,
    max_rounds: int = HC_MAX_ROUNDS,
    stats: dict | None = None,
) -> DataFrame:
    """Directed (src, dst) edge list (both directions present) →
    (node, n_reached, dist_sum, eccentricity, closeness_ppm) over the
    deterministic pivot set — same loop shape, pivot selection, and
    budget discipline as harmonic_sketch (raises if masks still grow
    in round ``max_rounds``; the committed oracle unrolls the same
    budget)."""
    state = ms_bfs_state(
        edges,
        [
            ("reach", lambda k: f"reach + {_MSBFS_NEWBITS}"),
            ("dsum", lambda k: f"dsum + {_MSBFS_NEWBITS} * {k}"),
            (
                "ecc",
                lambda k: f"CASE WHEN {_MSBFS_NEWBITS} > 0 THEN {k}"
                " ELSE ecc END",
            ),
        ],
        "closeness sketch",
        n_pivots,
        max_rounds,
        stats,
    )
    return state.select(
        "node",
        F.col("reach").alias("n_reached"),
        F.col("dsum").alias("dist_sum"),
        F.col("ecc").alias("eccentricity"),
        F.expr(
            "CASE WHEN dsum > 0 THEN reach * CAST(1000000 AS BIGINT)"
            " div dsum ELSE CAST(0 AS BIGINT) END"
        ).alias("closeness_ppm"),
    )


@query(
    "q_closeness_eccentricity",
    sql=f"""
    WITH {_ce_sql()}
    SELECT node, reach AS n_reached, dsum AS dist_sum,
           ecc AS eccentricity,
           CASE WHEN dsum > 0
                THEN reach * CAST(1000000 AS BIGINT) // dsum
                ELSE CAST(0 AS BIGINT) END AS closeness_ppm
    FROM cs{HC_ORACLE_ROUNDS}
    """,
)
def q_closeness_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled classic closeness and eccentricity of every
    purchase-graph vertex over the same HC_PIVOTS md5-chosen pivots as
    q_harmonic_centrality: Σ distance and max distance to the reaching
    pivots, plus closeness_ppm = n_reached·1e6 // dist_sum."""
    return closeness_sketch(_two_way(_purchase_pairs(spark, sf_dir)))


# ---------------------------------------------------------------------------
# Distance distribution / neighbourhood function sketch (Palmer et al.
# 2002 "ANF: a fast and scalable tool for data mining in massive
# graphs"; Boldi & Vigna 2011 HyperANF) — the ECDF of pairwise
# distances from the SAME pivot-sampled bitmask MS-BFS: N(k) = number
# of (pivot, node) pairs at distance ≤ k. The standard outputs —
# effective diameter (smallest k with cum ≥ 90%), median distance,
# exact diameter lower bound — all read off this relation. ANF proper
# runs from ALL vertices with probabilistic counters; the pivot-exact
# form here is the same estimator family with exact counts over the
# deterministic md5 pivot set, so the cross-engine oracle stays
# value-exact (a HyperLogLog-based variant cannot be).
#
# Zero new iteration machinery: per-round pair counts are the DELTAS of
# SUM(reach) over the closeness state (reach is monotone in rounds),
# so the committed oracle reuses _ce_sql() verbatim and the Spark side
# keeps a lazy 1-row SUM(reach) aggregate per round — each over a
# checkpointed V-row state, then a ≤13-row union + window (single-
# partition over 13 aggregate rows — the SCALING tiny-cardinality
# exemption). Self-pairs never count (a pivot's own bit is set at
# round 0, never "new").
# ---------------------------------------------------------------------------


def _dd_sql() -> str:
    rows = [
        "SELECT CAST(0 AS BIGINT) AS distance, CAST(0 AS BIGINT)"
        " AS cum_pairs"
    ] + [
        f"SELECT CAST({k} AS BIGINT),"
        f" (SELECT CAST(SUM(reach) AS BIGINT) FROM cs{k})"
        for k in range(1, HC_ORACLE_ROUNDS + 1)
    ]
    union = "\n        UNION ALL ".join(rows)
    return f"""
    WITH {_ce_sql()},
    dd0 AS (
        {union}
    ),
    ddw AS (
        SELECT distance, cum_pairs,
               cum_pairs - LAG(cum_pairs)
                   OVER (ORDER BY distance) AS n_pairs,
               MAX(cum_pairs) OVER () AS total
        FROM dd0
    )
    SELECT distance, n_pairs, cum_pairs,
           CAST(cum_pairs * 1000000 // total AS BIGINT) AS cum_ppm
    FROM ddw WHERE n_pairs > 0
    """


def distance_profile(
    edges: DataFrame,
    n_pivots: int = HC_PIVOTS,
    max_rounds: int = HC_MAX_ROUNDS,
) -> DataFrame:
    """Directed (src, dst) edge list (both directions present) →
    (distance, n_pairs, cum_pairs, cum_ppm): the pivot-sampled
    pairwise-distance ECDF. Same pivot selection, loop shape, and
    raise-on-exhaustion budget as harmonic/closeness; per-round cost is
    the identical E-row join + bit_or agg plus one lazy 1-row
    SUM(reach) aggregate over the checkpointed state."""
    from functools import reduce

    from pyspark.sql import Window

    spark = edges.sparkSession
    cum_rows = [
        spark.range(1).select(
            F.lit(0).cast("long").alias("distance"),
            F.lit(0).cast("long").alias("cum_pairs"),
        )
    ]

    def _record_round(k: int, state: DataFrame) -> None:
        cum_rows.append(
            state.agg(
                F.sum("reach").cast("long").alias("cum_pairs")
            ).select(F.lit(k).cast("long").alias("distance"), "cum_pairs")
        )

    ms_bfs_state(
        edges,
        [("reach", lambda k: f"reach + {_MSBFS_NEWBITS}")],
        "distance distribution",
        n_pivots,
        max_rounds,
        on_grow=_record_round,
    )
    dd0 = reduce(lambda a, b: a.unionAll(b), cum_rows)
    w = Window.orderBy("distance")
    ddw = dd0.select(
        "distance",
        "cum_pairs",
        (F.col("cum_pairs") - F.lag("cum_pairs").over(w)).alias("n_pairs"),
        F.max("cum_pairs")
        .over(Window.partitionBy())
        .alias("total"),
    )
    return ddw.filter(F.col("n_pairs") > 0).select(
        "distance",
        "n_pairs",
        "cum_pairs",
        F.expr(
            "CAST(cum_pairs * CAST(1000000 AS BIGINT) div total AS BIGINT)"
        ).alias("cum_ppm"),
    )


@query("q_distance_distribution", sql=_dd_sql())
def q_distance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-distance ECDF of the purchase graph over the HC_PIVOTS
    md5-chosen pivots (ANF neighbourhood function, pivot-exact form):
    per distance k, how many (pivot, node) pairs sit at exactly k and
    the cumulative ppm — effective diameter = first distance with
    cum_ppm ≥ 900000."""
    return distance_profile(_two_way(_purchase_pairs(spark, sf_dir)))


# ---------------------------------------------------------------------------
# Betweenness-centrality sketch: Brandes' dependency accumulation
# (Brandes 2001, "A faster algorithm for betweenness centrality") run
# from BW_PIVOTS md5-chosen pivot sources instead of all V
# (Bader et al. 2007 pivot sampling) — exact betweenness is O(V·E) and
# off the table at 100 TB; the sketch's cost is LINEAR in the pivot
# count, which is the scale lever.
#
# Forward pass: per-pivot BFS levels carrying sigma = number of
# shortest paths (integer, exact; bounded by branching^diameter — ~1e10
# at sf10, far under int64). Backward pass, deepest level first:
# delta(u) = Σ over successors v of sigma_u · (1e6 + delta_v) / sigma_v
# — the division is TRUNCATING and PER (u, v) PAIR, then summed, so the
# two engines compute bit-identical ppm deltas (the per-pair product is
# DECIMAL(38,0) Spark-side / HUGEINT DuckDB-side, the linkage.py
# pairing; both truncate toward zero). Betweenness_ppm(v) = Σ over
# pivots of delta(v), v ≠ pivot. Both edge directions are present, so
# this is ORDERED-pair betweenness (2× the undirected convention) —
# deterministic and identical in both engines.
#
# Budgets: the forward budget counts GROWING rounds with one
# empty-frontier confirming round on top (the kcore/LPA/harmonic
# discipline), and RAISES on exhaustion. The committed oracle unrolls
# exactly BW_MAX_ROUNDS forward and backward steps: forward rounds past
# exhaustion insert nothing, and backward steps at empty levels are
# no-ops, so the fixed unroll equals the early-exited loop for every
# graph that fits the budget.
# ---------------------------------------------------------------------------
BW_PIVOTS = 8
BW_MAX_ROUNDS = 12


def bw_fwd_step_sql(prev: str, k: int, edges: str = "bedges") -> str:
    """Forward BFS round ``k``: append (p, node, d=k, sigma) for nodes
    first reached at distance k, sigma = sum of predecessor sigmas."""
    return f"""
        SELECT p, node, d, sigma FROM {prev}
        UNION ALL
        SELECT f.p, e.dst AS node, {k} AS d,
               CAST(SUM(f.sigma) AS BIGINT) AS sigma
        FROM {prev} f JOIN {edges} e ON e.src = f.node
        WHERE f.d = {k - 1}
          AND NOT EXISTS (SELECT 1 FROM {prev} v
                          WHERE v.p = f.p AND v.node = e.dst)
        GROUP BY f.p, e.dst"""


def bw_bwd_step_sql(prev: str, k: int, edges: str = "bedges") -> str:
    """Backward accumulation at level ``k``: nodes at depth k take
    delta from their level-(k+1) successors; everyone else carries."""
    return f"""
        SELECT s.p, s.node, s.d, s.sigma,
               CASE WHEN s.d = {k} THEN COALESCE(acc.dl, 0)
                    ELSE s.delta END AS delta
        FROM {prev} s LEFT JOIN (
            SELECT t.p, t.node,
                   CAST(SUM(CAST(t.sigma AS HUGEINT)
                            * (1000000 + w.delta) // w.sigma)
                        AS BIGINT) AS dl
            FROM {prev} t
            JOIN {edges} e ON e.src = t.node
            JOIN {prev} w ON w.p = t.p AND w.node = e.dst
                         AND w.d = t.d + 1
            WHERE t.d = {k}
            GROUP BY t.p, t.node
        ) acc ON acc.p = s.p AND acc.node = s.node"""


def _bw_sql() -> str:
    ctes = [
        f"""be0 AS (
        {_PAIRS_SQL}
    ),
    bedges AS MATERIALIZED (
        {_two_way_sql("be0")}
    ),
    bnodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM bedges),
    bpiv AS MATERIALIZED (
        SELECT node FROM bnodes
        ORDER BY {md5_long_sql("node::VARCHAR || ':bwpivot'")}, node
        LIMIT {BW_PIVOTS}
    ),
    bf0 AS MATERIALIZED (
        SELECT node AS p, node, 0 AS d, CAST(1 AS BIGINT) AS sigma
        FROM bpiv
    )"""
    ]
    for k in range(1, BW_MAX_ROUNDS + 1):
        ctes.append(
            f"bf{k} AS MATERIALIZED ({bw_fwd_step_sql(f'bf{k - 1}', k)}\n    )"
        )
    ctes.append(
        f"bb{BW_MAX_ROUNDS} AS MATERIALIZED (SELECT p, node, d, sigma,"
        f" CAST(0 AS BIGINT) AS delta FROM bf{BW_MAX_ROUNDS})"
    )
    for k in range(BW_MAX_ROUNDS - 1, -1, -1):
        ctes.append(
            f"bb{k} AS MATERIALIZED ({bw_bwd_step_sql(f'bb{k + 1}', k)}\n    )"
        )
    return ",\n    ".join(ctes)


def betweenness_sketch(
    edges: DataFrame,
    n_pivots: int = BW_PIVOTS,
    max_rounds: int = BW_MAX_ROUNDS,
    stats: dict | None = None,
) -> DataFrame:
    """Directed (src, dst) edge list (both directions present) →
    (node, betweenness_ppm) pivot-sampled Brandes dependencies. Raises
    if the forward frontier is still growing after ``max_rounds`` — a
    truncated pass drops every deeper dependency, and the committed
    oracle unrolls exactly this budget."""
    edges = edges.localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    pivots = (
        nodes.select(
            "node",
            md5_long(
                F.concat(F.col("node").cast("string"), F.lit(":bwpivot"))
            ).alias("h"),
        )
        .orderBy("h", "node")
        .limit(n_pivots)
        .select("node")
    )
    state = pivots.select(
        F.col("node").alias("p"),
        "node",
        F.lit(0).alias("d"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint()
    # per-depth level frames (r17): the forward pass already computes
    # one frame per BFS level; keeping them lets the backward pass
    # touch two levels per step instead of rewriting the full
    # (pivot, node) state once per level, and the visited set for the
    # anti-join is their lazy (p, node) union — the per-round
    # state.union(new).localCheckpoint() job of the r16 shape is gone
    levels = [state]
    visited = state.select("p", "node")
    frontier = state
    sizes: list[int] = []
    done = False
    for k in range(1, max_rounds + 2):
        cand = (
            frontier.join(edges, frontier.node == edges.src)
            .groupBy("p", F.col("dst").alias("node"))
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            .withColumn("d", F.lit(k))
            .select("p", "node", "d", "sigma")
        )
        # lazy checkpoint + count fusion (r17): one job materializes the
        # level and counts it (see connected_components)
        new = cand.join(visited, ["p", "node"], "left_anti").localCheckpoint(
            eager=False
        )
        n_new = new.count()
        sizes.append(n_new)
        if n_new == 0:
            done = True
            break
        levels.append(new)
        visited = visited.union(new.select("p", "node"))
        frontier = new
    if not done:
        raise RuntimeError(
            f"pivoted Brandes frontier still growing after {max_rounds} "
            "rounds — a truncated forward pass drops every deeper "
            "dependency; raise max_rounds (and the oracle unroll) together"
        )
    deepest = len(sizes) - 1  # last round added nothing
    # backward accumulation per depth slice (r17, VERDICT #3): delta of
    # a depth-k node depends ONLY on depth-k rows and the depth-(k+1)
    # deltas, so each step joins level k to level k+1 — the arithmetic
    # (decimal product, div, coalesce 0) is byte-identical to the r16
    # full-state rewrite, which filtered the same two slices out of the
    # whole state and re-emitted every untouched row once per level
    dlevels: list[DataFrame | None] = [None] * (deepest + 1)
    dlevels[deepest] = levels[deepest].withColumn(
        "delta", F.lit(0).cast("long")
    )
    for k in range(deepest - 1, -1, -1):
        tk = levels[k]
        wk = dlevels[k + 1].select(
            F.col("p").alias("wp"),
            F.col("node").alias("wnode"),
            F.col("sigma").alias("wsigma"),
            F.col("delta").alias("wdelta"),
        )
        acc = (
            tk.join(edges, tk.node == edges.src)
            .join(
                wk,
                (F.col("p") == F.col("wp"))
                & (F.col("dst") == F.col("wnode")),
            )
            .groupBy(tk.p.alias("ap"), tk.node.alias("anode"))
            .agg(
                F.expr(
                    "CAST(SUM(CAST(sigma AS DECIMAL(38,0))"
                    " * (1000000 + wdelta) div wsigma) AS BIGINT)"
                ).alias("dl")
            )
        )
        dlevels[k] = (
            tk.join(
                acc,
                (tk.p == acc.ap) & (tk.node == acc.anode),
                "left",
            )
            .select(
                "p",
                "node",
                "d",
                "sigma",
                F.coalesce("dl", F.lit(0)).cast("long").alias("delta"),
            )
            .localCheckpoint(eager=False)
        )
    from functools import reduce

    delta = reduce(lambda x, y: x.union(y), dlevels)
    if stats is not None:
        stats["rounds"] = len(sizes)
        stats["frontier"] = sizes
        stats["deepest"] = deepest
    agg = (
        delta.filter(F.col("node") != F.col("p"))
        .groupBy("node")
        .agg(F.sum("delta").cast("long").alias("betweenness_ppm"))
    )
    return nodes.join(agg, "node", "left").select(
        "node",
        F.coalesce("betweenness_ppm", F.lit(0))
        .cast("long")
        .alias("betweenness_ppm"),
    )


@query(
    "q_betweenness_sketch",
    sql=f"""
    WITH {_bw_sql()}
    SELECT n.node,
           CAST(COALESCE(SUM(CASE WHEN b.node <> b.p THEN b.delta END), 0)
                AS BIGINT) AS betweenness_ppm
    FROM bnodes n LEFT JOIN bb0 b ON b.node = n.node
    GROUP BY n.node
    """,
)
def q_betweenness_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled Brandes betweenness (ppm, ordered-pair convention)
    of every purchase-graph vertex from BW_PIVOTS md5-chosen sources."""
    return betweenness_sketch(_two_way(_purchase_pairs(spark, sf_dir)))


# ---------------------------------------------------------------------------
# Link prediction over the co-purchase graph: score non-adjacent part
# pairs by their shared neighborhood — common-neighbors, Jaccard,
# Adamic-Adar, resource-allocation (Zhou-Lü-Zhang 2009) and
# preferential-attachment — and return the top-K candidate edges.
# (Liben-Nowell & Kleinberg 2003 taxonomy; Adamic & Adar 2003.)
#
# Only DISTANCE-2 pairs are scored (a pair with zero common neighbors
# scores 0 on every neighborhood index), which is what makes the
# operator tractable: candidates come from wedge enumeration through
# each common neighbor w — Θ(Σ_w deg(w)²) wedge rows into one pair
# aggregation — never an all-pairs product. Per-center weights (the
# 1/deg and 1/ln(deg) factors) are computed ONCE per vertex on the
# V-row degree relation and ride the adjacency join, so the wedge rows
# stay narrow and the fixed-point ln chain runs V times, not
# Θ(wedges) times.
#
# Exactness: 1/ln(deg) is transcendental, so the Adamic-Adar weight
# uses the SAME bit-length range-reduction + atanh-series fixed-point
# ln as the PSI/JS/KL drift family (agreement._lnfp_steps) — both
# engines compute identical integers by construction. The
# resource-allocation and Jaccard scores are plain truncating integer
# divisions; preferential attachment is an exact product.
#
# 100 TB posture: wedge volume is the hub centers' deg² — the scale
# lever is a center-degree cap (skip centers with deg > D, bounding
# wedge rows at D·E). It is PRINCIPLED for the weighted indexes — a
# hub's per-wedge contribution is 1/deg ≤ 1/D (RA) or 1/ln(deg) (AA),
# i.e. the costliest centers carry the least signal, which is exactly
# why RA/AA outperform raw CN — but it changes cn/jaccard values, so
# it stays OFF at test sf for oracle exactness and is documented as
# the knob to turn first at native scale.
# ---------------------------------------------------------------------------
LP_TOPK = 50


def lp_weight_steps(div: str, shl: str) -> list[tuple[str, str]]:
    """(name, expr) chain from a BIGINT ``degw`` (>= 2 for any common
    neighbor) to the per-center Adamic-Adar weight ``aa_w_e6`` =
    1e12 // ln_ppm(deg) and resource-allocation weight ``ra_w_e12`` =
    1e12 // deg. Shared verbatim by the Spark plan and the DuckDB
    oracle (the kcore/LPA/PSI shared-step discipline); ``div`` is the
    truncating integer-division token, ``shl`` a format string for
    ``1 << k``. ln in ppm is the drift family's fixed-point chain
    (``agreement._lnfp_steps``) of ln(degw / 1): its ratio is exactly
    degw·1e6, so its range reduction is k = floor(log2(deg))."""
    return _lnfp_steps("deg", "degw", "1", div, shl) + [
        ("aa_w_e6", f"1000000000000 {div} deg_ln"),
        ("ra_w_e12", f"1000000000000 {div} degw"),
    ]


def lp_base_ctes() -> str:
    """The CTE chain from the raw tables to the weighted adjacency
    ``lp_adjw`` (w, n, aa_w_e6, ra_w_e12) — shared between the
    committed whole-space oracle and the chunked native-scale verifier,
    which materializes lp_adjw/tri_und/tri_deg ONCE as temp tables and
    runs :func:`lp_tail_sql` per chunk over them."""
    steps = lp_weight_steps(*_DUCK_INT)
    step_ctes = []
    prev = "lp_wts0"
    for name, expr in steps:
        step_ctes.append(f"lp_{name} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = f"lp_{name}"
    joined = ",\n    ".join(step_ctes)
    return f"""{_TRI_CTES},
    lp_wts0 AS (SELECT node AS w, CAST(deg AS BIGINT) AS degw FROM tri_deg),
    {joined},
    lp_wts AS (SELECT w, aa_w_e6, ra_w_e12 FROM {prev}),
    lp_adjw AS (
        SELECT b.u AS w, b.v AS n, t.aa_w_e6, t.ra_w_e12
        FROM tri_both b JOIN lp_wts t ON t.w = b.u
    )"""


def lp_tail_sql(
    chunk: tuple[int, int] | None = None,
    adjw: str = "lp_adjw",
    und: str = "tri_und",
    deg: str = "tri_deg",
) -> str:
    """Wedge aggregation → anti-join → scoring → top-K, over named
    input relations (CTEs of the committed oracle, or the verifier's
    materialized temp tables). ``chunk=(c, C)`` restricts candidates to
    pairs whose smaller endpoint satisfies ``u % C == c`` — the filter
    sits on the wedge join's a-side, so per-chunk work AND peak memory
    are ~1/C of the whole (the linkage/cv chunked-verifier pattern:
    candidates partition by u, so the global top-K is exactly the top-K
    of the union of per-chunk top-Ks). Opens mid-WITH: prefix with
    ``WITH`` (plus any base CTEs)."""
    chunk_pred = ""
    if chunk is not None:
        c, n_chunks = chunk
        chunk_pred = f" AND a.n % {n_chunks} = {c}"
    return f"""lp_pairs AS (
        SELECT a.n AS u, b.n AS v,
               CAST(COUNT(*) AS BIGINT) AS cn,
               CAST(SUM(a.aa_w_e6) AS BIGINT) AS aa_e6,
               CAST(SUM(a.ra_w_e12) AS BIGINT) AS ra_e12
        FROM {adjw} a JOIN {adjw} b ON a.w = b.w AND a.n < b.n{chunk_pred}
        GROUP BY 1, 2
    ),
    lp_cand AS (
        SELECT p.* FROM lp_pairs p
        ANTI JOIN {und} e ON e.u = p.u AND e.v = p.v
    )
    SELECT c.u, c.v, c.cn,
           c.cn * 1000000 // (du.deg + dv.deg - c.cn) AS jaccard_ppm,
           c.aa_e6, c.ra_e12,
           CAST(du.deg AS BIGINT) * dv.deg AS pa
    FROM lp_cand c
    JOIN {deg} du ON du.node = c.u
    JOIN {deg} dv ON dv.node = c.v
    ORDER BY c.aa_e6 DESC, c.u, c.v
    LIMIT {LP_TOPK}"""


def _lp_sql(chunk: tuple[int, int] | None = None) -> str:
    """The DuckDB side: base CTEs + tail. chunk=None is the committed
    whole-space oracle."""
    return f"""
    WITH {lp_base_ctes()},
    {lp_tail_sql(chunk)}
    """


def _lp_agg_partitions(spark: SparkSession) -> int:
    """Partition count for the wedge→pair aggregation exchange — the
    one super-linear shuffle in link prediction (Θ(Σ deg²) rows, ~150M
    at sf0.1 vs the session default of 32 shuffle partitions). Scale
    with available slots (4× parallelism keeps per-task hash-agg state
    small enough to stay in memory) rather than a constant tuned to
    either local mode or a cluster."""
    return max(64, spark.sparkContext.defaultParallelism * 4)


def link_prediction_frame(
    spark: SparkSession, sf_dir: str, chunk: tuple[int, int] | None = None
) -> DataFrame:
    """The Spark side, mirroring :func:`_lp_sql`'s ``chunk`` semantics:
    ``(c, C)`` filters the wedge join's a-side to ``n % C == c`` BEFORE
    the join, cutting per-chunk wedge volume and aggregation state to
    ~1/C — the native-scale execution path (candidates partition by u,
    so merging per-chunk top-Ks reproduces the whole-space top-K
    exactly; pinned by tests/test_linkpred.py and executed by
    tools/verify_sf10_tail --checks linkpred).

    r16 plan shape (guide §2.3/§2.4/§3.1/§8; 118.5 s → ~16 s at sf0.1):

    - **The Θ(Σ deg²) wedge rows never cross an exchange.** When the
      directed adjacency is small enough to broadcast (E ≤
      ``bcast.BCAST_MAX_ROWS``, ~16 B/row framed; data-driven — one
      count on the already-checkpointed edge list), the a-side
      adjacency is repartitioned by ``n`` (the candidate ``u``) and the wedge join is a map-side
      broadcast hash join, so wedges are BORN partitioned by ``u`` —
      hashpartitioning(u) satisfies the (u, v) aggregation's clustering
      requirement and Catalyst plans one co-partitioned hash aggregate
      with no partial pass and no wedge shuffle (guide §8: decide with
      small rows, never move the heavy derived rows). Above the
      threshold (the chunked sf10-native path: 120M directed edges) it
      falls back to shuffling the wedge rows once:
      ``repartition(P, u, v)`` ahead of the groupBy — still one
      single-pass aggregate (the 32-partition partial+final default
      measured 68 s for the agg alone; the map-side partial aggregate
      reduced ~1.5:1 while building multi-million-entry hash maps).
    - The candidate anti-join broadcasts the edge list instead of
      sort-merge-joining it (localCheckpoint leaves UnknownPartitioning
      + no stats, so the planner could never pick the broadcast
      itself): E-row build side vs an exchange + full sort of the ~100M
      candidate rows. The hint goes through ``bcast_if`` on the edge
      list's count, so an edge list over ``BCAST_MAX_ROWS`` degrades to
      a shuffle anti-join. In the chunked native path the edge side is
      pre-filtered to ``u % C == c`` — exact, since every candidate
      already satisfies it — keeping the per-chunk build side ~E/C.
    - The two degree joins moved BELOW the top-K: ``deg_u``/``deg_v``
      feed only output columns (jaccard_ppm, pa), never the
      (aa_e6, u, v) sort key, so joining them after
      TakeOrderedAndProject touches LP_TOPK rows instead of ~100M.
      Broadcast (V-row side) keeps them exchange-free.
    """
    und = copurchase_und(spark, sf_dir).localCheckpoint(eager=False)
    both = und.select("u", "v").unionAll(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = (
        both.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .localCheckpoint(eager=False)
    )
    wts = deg.select(F.col("u").alias("w"), F.col("deg").alias("degw"))
    for name, expr in lp_weight_steps(*_SPARK_INT):
        wts = wts.withColumn(name, F.expr(expr))
    adjw = (
        both.select(F.col("u").alias("w"), F.col("v").alias("n"))
        .join(wts.select("w", "aa_w_e6", "ra_w_e12"), "w")
        .localCheckpoint(eager=False)
    )
    a = adjw.alias("a")
    anti_edges = und
    if chunk is not None:
        c, n_chunks = chunk
        a = adjw.filter(F.col("n") % n_chunks == c).alias("a")
        # every candidate pair has u % C == c, so edges outside the
        # chunk can never match the anti-join — filtering them first
        # is exact and keeps the per-chunk build side at ~E/C rows
        anti_edges = und.filter(F.col("u") % n_chunks == c)
    # the directed edge count decides the wedge-join strategy (the same
    # runtime-size decision AQE would make if the checkpoint kept
    # stats); und is already materialized, so the count is one cheap
    # pass over cached blocks
    n_und = und.count()
    if 2 * n_und <= bcast.BCAST_MAX_ROWS:
        # zero-shuffle wedges: a-side pre-partitioned by n (= candidate
        # u), b-side adjacency broadcast — the join is map-side and its
        # output already satisfies the aggregation's distribution
        a_part = a.repartition(_lp_agg_partitions(spark), "n").alias("a")
        b = F.broadcast(
            adjw.select(F.col("w").alias("bw"), F.col("n").alias("bn"))
        )
        pairs = (
            a_part.join(
                b, (F.col("a.w") == F.col("bw")) & (F.col("a.n") < F.col("bn"))
            )
            .groupBy(F.col("a.n").alias("u"), F.col("bn").alias("v"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("cn"),
                F.sum(F.col("a.aa_w_e6")).cast("long").alias("aa_e6"),
                F.sum(F.col("a.ra_w_e12")).cast("long").alias("ra_e12"),
            )
        )
    else:
        b = adjw.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.w") == F.col("b.w")) & (F.col("a.n") < F.col("b.n")),
            )
            .select(
                F.col("a.n").alias("u"),
                F.col("b.n").alias("v"),
                F.col("a.aa_w_e6").alias("aa_w_e6"),
                F.col("a.ra_w_e12").alias("ra_w_e12"),
            )
            .repartition(_lp_agg_partitions(spark), "u", "v")
            .groupBy("u", "v")
            .agg(
                F.count(F.lit(1)).cast("long").alias("cn"),
                F.sum(F.col("aa_w_e6")).cast("long").alias("aa_e6"),
                F.sum(F.col("ra_w_e12")).cast("long").alias("ra_e12"),
            )
        )
    # the chunk filter keeps ~E/C rows, but only und's count bounds them
    cand = pairs.join(bcast_if(anti_edges, n_und), ["u", "v"], "left_anti")
    top = cand.orderBy(F.desc("aa_e6"), "u", "v").limit(LP_TOPK)
    du = deg.select("u", F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v"))
    # broadcast the LP_TOPK-row side of the degree attachments, not the
    # V-row degree table (r17: the r16 hints collected V rows to the
    # driver — backwards at scale; building the 50-row side streams deg
    # map-side from its cached blocks with zero exchange either way)
    scored = (
        F.broadcast(F.broadcast(top).join(du, "u"))
        .join(dv, "v")
        .select(
            "u",
            "v",
            "cn",
            F.expr("cn * 1000000 div (deg_u + deg_v - cn)").alias(
                "jaccard_ppm"
            ),
            "aa_e6",
            "ra_e12",
            (F.col("deg_u").cast("long") * F.col("deg_v")).alias("pa"),
        )
    )
    return scored.orderBy(F.desc("aa_e6"), "u", "v").limit(LP_TOPK)


@query("q_link_prediction", sql=_lp_sql())
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{LP_TOPK} predicted co-purchase edges by Adamic-Adar, with
    the full index battery (cn, jaccard_ppm, aa_e6, ra_e12, pa) per
    candidate pair — distance-2 candidates only, integer-exact weights,
    deterministic (aa_e6 DESC, u, v) order.

    Plan shape: und edges → degree agg → V-row weight chain (the
    fixed-point ln runs once per vertex) → weights joined onto the
    directed adjacency → wedge self-join on the center → one hash
    aggregation onto the candidate pair → anti-join against existing
    edges → two degree joins → TakeOrdered(K). The wedge self-join and
    the pair groupBy are the only super-linear steps (Θ(Σ deg²) rows,
    map-side combinable); everything else is linear joins. Top-K is
    per-partition take + merge — no global sort. At native scale the
    SAME body runs candidate-chunked (``link_prediction_frame`` with
    chunk=(c, C)) — exact, since candidates partition by u.
    """
    return link_prediction_frame(spark, sf_dir)


# ---------------------------------------------------------------------------
# Degree assortativity (Newman 2002): the Pearson correlation of the
# degrees at the two ends of each edge — one number telling whether
# hubs attach to hubs (r > 0, social-network-like) or to leaves
# (r < 0, disassortative, typical of co-occurrence graphs). Over the
# directed edge list E2 (each undirected edge both ways), with
# du = deg(src), dv = deg(dst):
#     r = (M·Σ du·dv − (Σ du)²) / (M·Σ du² − (Σ du)²),  M = |E2|
# (the both-directions form makes Σ du = Σ dv and Σ du² = Σ dv², so
# Newman's half-sum formulation reduces to a plain Pearson r). All
# three sums are exact integers; the single final division runs in
# DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — the betweenness product
# pairing — as sign · (|num|·1e6 // den), nonneg operands so the two
# engines' truncation conventions agree (the JS-drift signed-chain
# rule). den = 0 (regular graph: zero degree variance) → NULL.
#
# 100 TB posture: two linear joins (degree onto each endpoint) and one
# 4-value aggregate — no super-linear step anywhere; the degree join
# shuffles on the same key as the degree agg that produced it.
# ---------------------------------------------------------------------------
@query(
    "q_degree_assortativity",
    sql=f"""
    WITH {_TRI_CTES},
    as_e AS (
        SELECT CAST(du.deg AS BIGINT) AS du, CAST(dv.deg AS BIGINT) AS dv
        FROM tri_both e
        JOIN tri_deg du ON du.node = e.u
        JOIN tri_deg dv ON dv.node = e.v
    ),
    as_sums AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS m2,
               CAST(SUM(du * dv) AS HUGEINT) AS sxy,
               CAST(SUM(du) AS HUGEINT) AS sx,
               CAST(SUM(du * du) AS HUGEINT) AS sxx
        FROM as_e
    ),
    as_nd AS (
        SELECT m2, m2 * sxy - sx * sx AS num, m2 * sxx - sx * sx AS den
        FROM as_sums
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tri_deg) AS n_nodes,
           CAST(m2 // 2 AS BIGINT) AS n_edges,
           CAST(CASE WHEN den = 0 THEN NULL
                     WHEN num < 0 THEN -((-num * 1000000) // den)
                     ELSE (num * 1000000) // den END AS BIGINT)
               AS assortativity_ppm
    FROM as_nd
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree-assortativity of the co-purchase graph in ppm
    (one-row summary: n_nodes, n_edges, assortativity_ppm)."""
    und = copurchase_und(spark, sf_dir)
    both = und.select("u", "v").unionAll(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    # materializes the checkpoint the sums pass reads anyway; the count
    # gates the degree broadcasts (V <= |both| bounds the build side)
    n_directed = both.count()
    deg = both.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    du = deg.select("u", F.col("deg").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("dv"))
    # broadcast the V-row degree table onto the E-row edge list: the
    # localCheckpoint upstream erases stats, so without the hint the
    # planner sort-merge-joins — two exchanges + sorts of the edge list
    # for joins whose build side is |V| rows (guide §3.1; 12.0 → ~4 s).
    # Size-guarded (r17): above the gate the planner shuffle-joins
    # instead of blowing the 8 GB broadcast cap at native scale.
    sums = (
        both.join(bcast_if(du, n_directed), "u")
        .join(bcast_if(dv, n_directed), "v")
        .agg(
            F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("m2"),
            F.expr("CAST(SUM(du * dv) AS DECIMAL(38,0))").alias("sxy"),
            F.expr("CAST(SUM(du) AS DECIMAL(38,0))").alias("sx"),
            F.expr("CAST(SUM(du * du) AS DECIMAL(38,0))").alias("sxx"),
        )
    )
    nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return (
        sums.withColumn("num", F.expr("m2 * sxy - sx * sx"))
        .withColumn("den", F.expr("m2 * sxx - sx * sx"))
        .crossJoin(F.broadcast(nodes))
        .select(
            "n_nodes",
            F.expr("CAST(m2 div 2 AS BIGINT)").alias("n_edges"),
            F.expr(
                "CAST(CASE WHEN den = 0 THEN NULL"
                " WHEN num < 0 THEN -((-num * 1000000) div den)"
                " ELSE (num * 1000000) div den END AS BIGINT)"
            ).alias("assortativity_ppm"),
        )
    )
