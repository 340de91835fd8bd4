"""Geometry operators under the oracle gate: the reference's WKT
massage modes (R10–R12, CSVIngest.java:60-86) plus the parse-based
upgrade, exercised end-to-end on WKT constructed deterministically from
the nation table (the testdata carries no geometry column; building the
polygon in-query gives both engines the same input by construction).

The Spark side runs the REAL machinery — functions/geometry.py
wkt_parse / wkt_colon_encode / wkt_blank — while the oracle derives the
expected values arithmetically from the same point lists, so a parse
bug cannot cancel out on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_landmarks_datalake_spark.functions.geometry import (
    wkt_blank,
    wkt_colon_encode,
    wkt_parse,
)
from nyc_landmarks_datalake_spark.registry import query
from nyc_landmarks_datalake_spark.sources.catalog import table


@query(
    "q_wkt_geometry",
    sql="""
    WITH pts AS (
        SELECT n_regionkey, list_sort(list(n_nationkey)) AS ns
        FROM nation GROUP BY 1
    ),
    built AS (
        SELECT n_regionkey, ns,
               array_to_string(
                   list_transform(ns, n -> CAST(n * 7 % 100 AS VARCHAR)
                                            || ' ' ||
                                            CAST(n * 3 % 50 AS VARCHAR)),
                   ', ') AS body
        FROM pts
    )
    SELECT n_regionkey,
           'MULTIPOLYGON (((' || body || ')))' AS wkt,
           CAST(len(ns) AS BIGINT) AS n_points,
           CAST(list_min(list_transform(ns, n -> n * 7 % 100)) AS DOUBLE) AS min_lon,
           CAST(list_max(list_transform(ns, n -> n * 7 % 100)) AS DOUBLE) AS max_lon,
           CAST(list_min(list_transform(ns, n -> n * 3 % 50)) AS DOUBLE) AS min_lat,
           CAST(list_max(list_transform(ns, n -> n * 3 % 50)) AS DOUBLE) AS max_lat,
           replace(replace(body, ', ', '::'), ' ', ':') AS encoded,
           '' AS blanked
    FROM built
    """,
)
def q_wkt_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = table(spark, sf_dir, "nation")
    pts = nation.groupBy("n_regionkey").agg(
        F.array_sort(F.collect_list("n_nationkey")).alias("ns")
    )
    body = F.concat_ws(
        ", ",
        F.transform(
            F.col("ns"),
            lambda n: F.concat_ws(
                " ",
                (n * 7 % 100).cast("string"),
                (n * 3 % 50).cast("string"),
            ),
        ),
    )
    built = pts.select(
        "n_regionkey",
        F.concat(F.lit("MULTIPOLYGON ((("), body, F.lit(")))")).alias("wkt"),
    )
    parsed = wkt_parse(F.col("wkt"))
    ring = parsed[0][0]  # single polygon, single ring by construction
    lons = F.transform(ring, lambda p: p.getField("lon"))
    lats = F.transform(ring, lambda p: p.getField("lat"))
    return built.select(
        "n_regionkey",
        "wkt",
        F.size(ring).cast("long").alias("n_points"),
        F.array_min(lons).alias("min_lon"),
        F.array_max(lons).alias("max_lon"),
        F.array_min(lats).alias("min_lat"),
        F.array_max(lats).alias("max_lat"),
        wkt_colon_encode(F.col("wkt")).alias("encoded"),
        wkt_blank(F.col("wkt")).alias("blanked"),
    )


# ---------------------------------------------------------------------------
# Spatial join via grid bucketing — the scale path for point-in-polygon
# over a landmarks-style corpus. A naive spatial join is a cartesian
# product with a containment filter; the grid form shuffles both sides
# on a cell key instead: every point hashes to EXACTLY ONE cell
# (so matched pairs are emitted exactly once — no dedup pass), and each
# rectangle replicates only to the O(area/cell²) cells it overlaps.
# Cell size trades replication against per-cell join fan-in; skewed
# hot cells are ordinary join skew (AQE / salting applies).
# ---------------------------------------------------------------------------
def spatial_grid_join(
    points: DataFrame,
    boxes: DataFrame,
    cell: int,
) -> DataFrame:
    """(point_id, x, y) ⋈ (box_id, xmin, ymin, xmax, ymax) →
    containment pairs, grid-bucketed on integer coordinates
    (non-negative; inclusive bounds). One shuffle per side on
    (cx, cy); no cartesian anywhere."""
    pts = points.select(
        "point_id",
        "x",
        "y",
        F.expr(f"x DIV {cell}").alias("cx"),
        F.expr(f"y DIV {cell}").alias("cy"),
    )
    cells = boxes.select(
        "box_id",
        "xmin",
        "ymin",
        "xmax",
        "ymax",
        F.explode(
            F.sequence(F.expr(f"xmin DIV {cell}"), F.expr(f"xmax DIV {cell}"))
        ).alias("cx"),
    ).select(
        "*",
        F.explode(
            F.sequence(F.expr(f"ymin DIV {cell}"), F.expr(f"ymax DIV {cell}"))
        ).alias("cy"),
    )
    return (
        pts.join(cells, ["cx", "cy"])
        .filter(
            F.col("x").between(F.col("xmin"), F.col("xmax"))
            & F.col("y").between(F.col("ymin"), F.col("ymax"))
        )
        .select("point_id", "box_id", "x", "y")
    )


#: deterministic integer point/box synthesis shared by both engines —
#: the testdata carries no coordinates, so landmarks-style geometry is
#: derived arithmetically from customer/supplier keys (same pattern as
#: q_wkt_geometry). All arithmetic stays in int64.
_PT_SQL = """
    SELECT c_custkey AS point_id,
           (c_custkey * 7919) % 100000 AS x,
           (c_custkey * 104729) % 50000 AS y
    FROM customer
"""
_BOX_SQL = """
    SELECT s_suppkey AS box_id,
           (s_suppkey * 48611) % 95000 AS xmin,
           (s_suppkey * 15485863) % 45000 AS ymin,
           (s_suppkey * 48611) % 95000 + 1000 + (s_suppkey * 31) % 4000 AS xmax,
           (s_suppkey * 15485863) % 45000 + 1000 + (s_suppkey * 17) % 4000 AS ymax
    FROM supplier
"""


@query(
    "q_spatial_grid_join",
    sql=f"""
    WITH points AS ({_PT_SQL}), boxes AS ({_BOX_SQL})
    SELECT box_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(point_id) AS BIGINT) AS sum_point_ids
    FROM boxes JOIN points
      ON x BETWEEN xmin AND xmax AND y BETWEEN ymin AND ymax
    GROUP BY box_id
    """,
)
def q_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed containment join, aggregated per box. The oracle
    is the brute-force theta join — feasible at test scale, quadratic
    at 100 TB, which is exactly why the grid form exists."""
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    points = cust.select(
        F.col("c_custkey").alias("point_id"),
        (F.col("c_custkey") * 7919 % 100000).alias("x"),
        (F.col("c_custkey") * 104729 % 50000).alias("y"),
    )
    xmin = F.col("s_suppkey") * 48611 % 95000
    ymin = F.col("s_suppkey") * 15485863 % 45000
    boxes = supp.select(
        F.col("s_suppkey").alias("box_id"),
        xmin.alias("xmin"),
        ymin.alias("ymin"),
        (xmin + 1000 + F.col("s_suppkey") * 31 % 4000).alias("xmax"),
        (ymin + 1000 + F.col("s_suppkey") * 17 % 4000).alias("ymax"),
    )
    # cell=1000 (vs box sides up to 5000): boxes replicate to at most
    # ~36 cells while the 100k x 50k plane yields 5000 cells — enough
    # join-key cardinality that no single cell starves parallelism at
    # large sf (cell=5000 left only 200 keys and one hot-cell task
    # dominated the sf10 sweep). Output is identical for any cell size.
    pairs = spatial_grid_join(points, boxes, cell=1000)
    return pairs.groupBy("box_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("point_id").alias("sum_point_ids"),
    )


# ---------------------------------------------------------------------------
# Radius (distance) join — point-to-point within-R pairing, the other
# classic spatial shape next to containment. Grid cell = R: each right
# point lands in exactly ONE cell, each left point probes its 3x3
# neighborhood (bounded 9x replication of the probe keys, map-side
# explode of a literal offset array), so any within-R pair meets in
# exactly one (cell, offset) combination and the only shuffle is the
# cell-key join. All coordinates are integers and the predicate is
# SQUARED distance — the whole join is integer-exact, no sqrt, no
# floats. The oracle is the brute-force theta join (quadratic — the
# reason the grid form exists).
# ---------------------------------------------------------------------------
RADIUS = 2000
_RCELL = RADIUS  # cell size = R makes 3x3 probing sufficient


@query(
    "q_radius_join",
    sql=f"""
    WITH points AS ({_PT_SQL}),
    bpts AS (
        SELECT s_suppkey AS b_id,
               s_suppkey * 48611 % 100000 AS bx,
               s_suppkey * 15485863 % 50000 AS by
        FROM supplier
    )
    SELECT point_id,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(MIN((x - bx) * (x - bx) + (y - by) * (y - by)) AS BIGINT)
               AS min_dist2,
           CAST(SUM(b_id) AS BIGINT) AS sum_neighbor_ids
    FROM points JOIN bpts
      ON (x - bx) * (x - bx) + (y - by) * (y - by) <= {RADIUS * RADIUS}
    GROUP BY 1
    """,
)
def q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point neighbor census within RADIUS via 3x3 grid probing."""
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    pts = cust.select(
        F.col("c_custkey").alias("point_id"),
        (F.col("c_custkey") * 7919 % 100000).alias("x"),
        (F.col("c_custkey") * 104729 % 50000).alias("y"),
    )
    bpts = supp.select(
        F.col("s_suppkey").alias("b_id"),
        (F.col("s_suppkey") * 48611 % 100000).alias("bx"),
        (F.col("s_suppkey") * 15485863 % 50000).alias("by"),
    ).select(
        "*",
        F.expr(f"bx DIV {_RCELL}").alias("cx"),
        F.expr(f"by DIV {_RCELL}").alias("cy"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probes = pts.select(
        "*", F.explode(offsets).alias("o")
    ).select(
        "point_id",
        "x",
        "y",
        (F.expr(f"x DIV {_RCELL}") + F.col("o.dx")).alias("cx"),
        (F.expr(f"y DIV {_RCELL}") + F.col("o.dy")).alias("cy"),
    )
    d2 = (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx")) + (
        F.col("y") - F.col("by")
    ) * (F.col("y") - F.col("by"))
    return (
        probes.join(bpts, ["cx", "cy"])
        .filter(d2 <= RADIUS * RADIUS)
        .groupBy("point_id")
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.min(d2).cast("long").alias("min_dist2"),
            F.sum("b_id").alias("sum_neighbor_ids"),
        )
    )


# ---------------------------------------------------------------------------
# Point-in-polygon (ray casting) — true polygon containment, the step
# beyond bbox/radius predicates. Polygons are deterministic 8-vertex
# STARS (non-convex — concave vertices prove the even-odd rule, not a
# convexity shortcut). The crossing test is pure int64: for edge
# (x1,y1)-(x2,y2) and ray +x from (x,y), with d = y2-y1 and
# u = (x1-x)*d + (y-y1)*(x2-x1), the edge crosses iff the y-interval
# straddles ((y1>y) != (y2>y), half-open — vertices count once) and
# sign(u) == sign(d) (x* > x cleared of the division). No floats, no
# sqrt — bit-exact in any engine.
#
# Scale: bbox candidates come from the existing grid join (one shuffle
# per side); the exact test runs MAP-SIDE over an 8-struct literal
# edge array via higher-order filter — no 8x edge explosion ever hits
# a shuffle. The oracle takes the opposite formulation (brute-force
# bbox theta join + an 8-row VALUES edge join + FILTER aggregation) —
# two independently-derived implementations must agree on every
# crossing count.
# ---------------------------------------------------------------------------
#: star offsets (outer radius 2000, inner 600), closed ring
_STAR = [
    (2000, 0), (600, 600), (0, 2000), (-600, 600),
    (-2000, 0), (-600, -600), (0, -2000), (600, -600),
]
_STAR_EDGES = list(zip(_STAR, _STAR[1:] + _STAR[:1]))

_POLY_SQL = """
    SELECT s_suppkey AS poly_id,
           10000 + (s_suppkey * 48611) % 80000 AS cx,
           10000 + (s_suppkey * 15485863) % 30000 AS cy,
           1 + s_suppkey % 3 AS s
    FROM supplier
"""

_OFFS_VALUES = ", ".join(
    f"({dx1}, {dy1}, {dx2}, {dy2})"
    for (dx1, dy1), (dx2, dy2) in _STAR_EDGES
)


@query(
    "q_point_in_polygon",
    sql=f"""
    WITH pts AS ({_PT_SQL}),
    polys AS ({_POLY_SQL}),
    cand AS (
        SELECT point_id, x, y, poly_id, cx, cy, s
        FROM pts JOIN polys
          ON x BETWEEN cx - 2000 * s AND cx + 2000 * s
         AND y BETWEEN cy - 2000 * s AND cy + 2000 * s
    ),
    offs(dx1, dy1, dx2, dy2) AS (VALUES {_OFFS_VALUES}),
    crossed AS (
        SELECT point_id, poly_id,
               COUNT(*) FILTER (WHERE
                   ((cy + dy1 * s > y) <> (cy + dy2 * s > y))
                   AND (
                     ((dy2 - dy1) * s > 0 AND
                      (cx + dx1 * s - x) * ((dy2 - dy1) * s)
                        + (y - (cy + dy1 * s)) * ((dx2 - dx1) * s) > 0)
                     OR
                     ((dy2 - dy1) * s < 0 AND
                      (cx + dx1 * s - x) * ((dy2 - dy1) * s)
                        + (y - (cy + dy1 * s)) * ((dx2 - dx1) * s) < 0)
                   )) AS crossings
        FROM cand CROSS JOIN offs
        GROUP BY point_id, poly_id
    )
    SELECT poly_id,
           COUNT(*) AS n_candidates,
           CAST(SUM(CASE WHEN crossings % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inside,
           CAST(SUM(CASE WHEN crossings % 2 = 1 THEN point_id ELSE 0 END)
               AS BIGINT) AS sum_inside_ids
    FROM crossed
    GROUP BY poly_id
    """,
)
def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-polygon containment census via integer ray casting."""
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    pts = cust.select(
        F.col("c_custkey").alias("point_id"),
        (F.col("c_custkey") * 7919 % 100000).alias("x"),
        (F.col("c_custkey") * 104729 % 50000).alias("y"),
    )
    polys = supp.select(
        F.col("s_suppkey").alias("box_id"),
        (10000 + F.col("s_suppkey") * 48611 % 80000).alias("cx"),
        (10000 + F.col("s_suppkey") * 15485863 % 30000).alias("cy"),
        (1 + F.col("s_suppkey") % 3).alias("s"),
    )
    boxes = polys.select(
        "box_id", "cx", "cy", "s",
        (F.col("cx") - 2000 * F.col("s")).alias("xmin"),
        (F.col("cy") - 2000 * F.col("s")).alias("ymin"),
        (F.col("cx") + 2000 * F.col("s")).alias("xmax"),
        (F.col("cy") + 2000 * F.col("s")).alias("ymax"),
    )
    cand = spatial_grid_join(
        pts, boxes.select("box_id", "xmin", "ymin", "xmax", "ymax"), cell=2000
    ).join(polys, "box_id")

    cx, cy, s = F.col("cx"), F.col("cy"), F.col("s")
    edges = F.array(
        *[
            F.struct(
                (cx + dx1 * s).alias("x1"),
                (cy + dy1 * s).alias("y1"),
                (cx + dx2 * s).alias("x2"),
                (cy + dy2 * s).alias("y2"),
            )
            for (dx1, dy1), (dx2, dy2) in _STAR_EDGES
        ]
    )

    def _crossing(e):
        x, y = F.col("x"), F.col("y")
        d = e["y2"] - e["y1"]
        u = (e["x1"] - x) * d + (y - e["y1"]) * (e["x2"] - e["x1"])
        straddle = (e["y1"] > y) != (e["y2"] > y)
        return straddle & (((d > 0) & (u > 0)) | ((d < 0) & (u < 0)))

    crossings = F.size(F.filter(edges, _crossing))
    return (
        cand.select(
            "point_id",
            F.col("box_id").alias("poly_id"),
            (crossings % 2 == 1).alias("inside"),
        )
        .groupBy("poly_id")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(F.when(F.col("inside"), 1).otherwise(0)).alias("n_inside"),
            F.sum(
                F.when(F.col("inside"), F.col("point_id")).otherwise(0)
            ).alias("sum_inside_ids"),
        )
    )
