"""Spatial join (SURVEY.md §2.3 join_spatial).

Reference: /root/reference/scripts/census/zip_code_overlap.py:25-49 — for
every person, find all zipcode polygons whose geometry ST_Intersects the
person's district polygon, one PostGIS query per person (O(people) round
trips). Spark has no native geo type, so the engine represents geometry as a
GeoJSON string plus a materialized bbox (xmin/ymin/xmax/ymax doubles) and
splits the join into:

1. **bbox prefilter** — the cheap, scalable part. Implemented as a
   *grid-bucketed equi-join*: each rectangle is exploded to the grid cells
   it covers, the join runs on (cell_x, cell_y) — a plain hash join Spark
   can shuffle/broadcast/skew-split — then the exact bbox-overlap predicate
   filters within cells. Duplicate pairs (rects sharing several cells) are
   suppressed with the reference-cell trick (emit only in the cell that
   contains the overlap region's min corner) — no distinct needed, so no
   extra shuffle. A naive inequality join degenerates to
   broadcast-nested-loop; the grid join is O(pairs-per-cell) and scales out.
2. **exact refine** — ST_Intersects on the true geometry, a pure-Python
   ray-casting/edge-intersection kernel in an Arrow-batched pandas_udf
   (rows-only; shapely is not in this container).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import register
from ..tables import load
from .topk import top_k


def grid_cells(xmin: Column, ymin: Column, xmax: Column, ymax: Column, cell: float):
    """Explodable array of (cell_x, cell_y) structs covering the bbox."""
    cx0 = F.floor(xmin / cell).cast("long")
    cx1 = F.floor(xmax / cell).cast("long")
    cy0 = F.floor(ymin / cell).cast("long")
    cy1 = F.floor(ymax / cell).cast("long")
    return F.flatten(
        F.transform(
            F.sequence(cx0, cx1),
            lambda cx: F.transform(
                F.sequence(cy0, cy1),
                lambda cy: F.struct(cx.alias("cx"), cy.alias("cy")),
            ),
        )
    )


def bbox_grid_join(
    left: DataFrame,
    right: DataFrame,
    cell: float,
    left_bbox: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    right_bbox: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
) -> DataFrame:
    """All (left, right) pairs whose bboxes overlap, via grid bucketing.
    Output: every column of both inputs (bbox columns must be disjointly
    named across the two sides)."""
    lx0, ly0, lx1, ly1 = (F.col(c) for c in left_bbox)
    rx0, ry0, rx1, ry1 = (F.col(c) for c in right_bbox)

    lcells = left.withColumn(
        "__cell", F.explode(grid_cells(lx0, ly0, lx1, ly1, cell))
    )
    rcells = right.withColumn(
        "__cell", F.explode(grid_cells(rx0, ry0, rx1, ry1, cell))
    )
    joined = lcells.join(rcells, on="__cell")

    overlap = (lx0 <= rx1) & (lx1 >= rx0) & (ly0 <= ry1) & (ly1 >= ry0)
    # reference-cell dedup: emit the pair only from the cell holding the
    # overlap region's min corner — each overlapping pair appears in exactly
    # one cell, so no distinct/shuffle is needed.
    ref_cx = F.floor(F.greatest(lx0, rx0) / cell).cast("long")
    ref_cy = F.floor(F.greatest(ly0, ry0) / cell).cast("long")
    return joined.filter(
        overlap
        & (F.col("__cell.cx") == ref_cx)
        & (F.col("__cell.cy") == ref_cy)
    ).drop("__cell")


# -- exact refine: pure-python point-in-polygon / segment intersection ------

def _polys_from_geojson(geom: dict) -> list[list[list[tuple[float, float]]]]:
    """GeoJSON → list of polygon parts, each part a list of rings
    (ring 0 = exterior, rest = holes). Accepts Polygon and MultiPolygon."""

    def rings(poly) -> list[list[tuple[float, float]]]:
        return [[(float(x), float(y)) for x, y in ring] for ring in poly]

    if geom["type"] == "Polygon":
        return [rings(geom["coordinates"])]
    if geom["type"] == "MultiPolygon":
        return [rings(poly) for poly in geom["coordinates"]]
    raise ValueError(f"unsupported geometry {geom['type']}")


def _point_in_ring(x: float, y: float, ring: list[tuple[float, float]]) -> bool:
    """Ray casting (even-odd rule)."""
    inside = False
    n = len(ring)
    for i in range(n - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        if (y1 > y) != (y2 > y):
            xi = (x2 - x1) * (y - y1) / (y2 - y1) + x1
            if x < xi:
                inside = not inside
    return inside


def _point_in_poly(
    x: float, y: float, rings: list[list[tuple[float, float]]]
) -> bool:
    """Point in a polygon-with-holes: even-odd parity over ALL rings —
    inside the exterior XOR inside a hole = inside the material region
    (correct for any non-crossing hole nesting)."""
    parity = False
    for ring in rings:
        if _point_in_ring(x, y, ring):
            parity = not parity
    return parity


def _segments_intersect(p1, p2, p3, p4) -> bool:
    def orient(a, b, c):
        v = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
        return 0 if v == 0 else (1 if v > 0 else -1)

    def on_seg(a, b, c):
        return (
            min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
            and min(a[1], b[1]) <= c[1] <= max(a[1], b[1])
        )

    o1, o2 = orient(p1, p2, p3), orient(p1, p2, p4)
    o3, o4 = orient(p3, p4, p1), orient(p3, p4, p2)
    if o1 != o2 and o3 != o4:
        return True
    return any(
        o == 0 and on_seg(a, b, c)
        for o, a, b, c in [
            (o1, p1, p2, p3),
            (o2, p1, p2, p4),
            (o3, p3, p4, p1),
            (o4, p3, p4, p2),
        ]
    )


def _parts_intersect(p1, p2) -> bool:
    """One polygon part (exterior + holes) vs another.

    1. Any edge of any ring crossing any edge of the other's rings means
       the boundaries touch → intersect.
    2. With NO crossings, each connected ring lies entirely within one
       face of the other polygon's arrangement (material / hole /
       outside), so a single representative vertex of each EXTERIOR ring
       decides containment — tested hole-aware via even-odd parity, which
       correctly reports a geometry sitting wholly inside a hole (donut
       case) as NOT intersecting."""
    for r1 in p1:
        for r2 in p2:
            for i in range(len(r1) - 1):
                for j in range(len(r2) - 1):
                    if _segments_intersect(r1[i], r1[i + 1], r2[j], r2[j + 1]):
                        return True
    return _point_in_poly(*p2[0][0], p1) or _point_in_poly(*p1[0][0], p2)


def polygons_intersect(g1: str, g2: str) -> bool:
    """ST_Intersects for GeoJSON Polygon AND MultiPolygon, with holes:
    edge crossing or hole-aware containment either way; multi-part
    geometries intersect iff any part pair does. Pure Python,
    deterministic — the reference pushes this predicate into PostGIS
    (zip_code_overlap.py:33-38, fully general geometry there); here it
    runs distributed in a pandas_udf after the bbox prefilter."""
    for p1 in _polys_from_geojson(json.loads(g1)):
        for p2 in _polys_from_geojson(json.loads(g2)):
            if _parts_intersect(p1, p2):
                return True
    return False


@F.pandas_udf(T.BooleanType())
def st_intersects(g1: pd.Series, g2: pd.Series) -> pd.Series:
    return pd.Series(
        [
            polygons_intersect(a, b) if a is not None and b is not None else None
            for a, b in zip(g1, g2)
        ]
    )


def geojson_centroid_xy(geom: dict) -> tuple[float, float]:
    """Area-weighted (surface) centroid of a GeoJSON Polygon/MultiPolygon
    with holes — the shoelace formula per ring, exterior rings adding and
    holes subtracting, winding-normalized so either ring orientation is
    accepted. This is what shapely's ``.centroid`` computes for the
    reference at nytimes_precincts.py:67-70; pure Python here so it runs
    distributed without a native geo dependency."""
    num_x = num_y = den = 0.0
    for part in _polys_from_geojson(geom):
        for ri, ring in enumerate(part):
            a2 = sx = sy = 0.0
            for (x0, y0), (x1, y1) in zip(ring, ring[1:]):
                cr = x0 * y1 - x1 * y0
                a2 += cr
                sx += (x0 + x1) * cr
                sy += (y0 + y1) * cr
            # ring centroid contribution: sign(a2) normalizes winding,
            # ring index 0 is the exterior (GeoJSON convention), others
            # subtract as holes
            hole_sign = 1.0 if ri == 0 else -1.0
            orient = 1.0 if a2 >= 0.0 else -1.0
            num_x += hole_sign * orient * sx / 3.0
            num_y += hole_sign * orient * sy / 3.0
            den += hole_sign * abs(a2)
    if den == 0.0:
        return (float("nan"), float("nan"))
    return (num_x / den, num_y / den)


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("lon", T.DoubleType()),
            T.StructField("lat", T.DoubleType()),
        ]
    )
)
def st_centroid(geometry: pd.Series) -> pd.DataFrame:
    """Arrow-batched surface centroid of a GeoJSON geometry string."""
    pts = [
        geojson_centroid_xy(json.loads(g)) if g is not None else (None, None)
        for g in geometry
    ]
    return pd.DataFrame({"lon": [p[0] for p in pts], "lat": [p[1] for p in pts]})


# -- derived rectangle fixtures (deterministic integer-ish geometry) --------

def _district_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25 big overlapping rectangles from nation (stand-in for districts)."""
    n = load(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        ((F.col("n_nationkey") % 5) * 20.0 - 3.0).alias("d_xmin"),
        (F.floor(F.col("n_nationkey") / 5) * 20.0 - 3.0).alias("d_ymin"),
        ((F.col("n_nationkey") % 5) * 20.0 + 10.0 + (F.col("n_nationkey") % 7)).alias(
            "d_xmax"
        ),
        (F.floor(F.col("n_nationkey") / 5) * 20.0 + 12.0).alias("d_ymax"),
    )


def _zip_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many small squares from customer (stand-in for zipcode polygons)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        (F.col("c_custkey") % 97).cast("double").alias("z_xmin"),
        ((F.col("c_custkey") * 7) % 89).cast("double").alias("z_ymin"),
        ((F.col("c_custkey") % 97) + 2.0).alias("z_xmax"),
        (((F.col("c_custkey") * 7) % 89) + 2.0).alias("z_ymax"),
    )


SQL_RECTS = """
    districts AS (
        SELECT n_nationkey,
               (n_nationkey % 5) * 20.0 - 3.0 AS d_xmin,
               floor(n_nationkey / 5) * 20.0 - 3.0 AS d_ymin,
               (n_nationkey % 5) * 20.0 + 10.0 + (n_nationkey % 7) AS d_xmax,
               floor(n_nationkey / 5) * 20.0 + 12.0 AS d_ymax
        FROM nation),
    zips AS (
        SELECT c_custkey,
               CAST(c_custkey % 97 AS DOUBLE) AS z_xmin,
               CAST((c_custkey * 7) % 89 AS DOUBLE) AS z_ymin,
               (c_custkey % 97) + 2.0 AS z_xmax,
               ((c_custkey * 7) % 89) + 2.0 AS z_ymax
        FROM customer)
"""


@register(
    "join_spatial",
    oracle=f"""
    WITH {SQL_RECTS}
    SELECT n_nationkey, c_custkey
    FROM districts JOIN zips
      ON d_xmin <= z_xmax AND d_xmax >= z_xmin
     AND d_ymin <= z_ymax AND d_ymax >= z_ymin
    """,
)
def join_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bbox-overlap spatial join via the grid-bucketed equi-join (the 100 TB
    plan shape); the oracle is the equivalent theta join. Converts the
    reference's O(people) PostGIS loop into one distributed join."""
    d = _district_rects(spark, sf_dir)
    z = _zip_rects(spark, sf_dir)
    pairs = bbox_grid_join(
        d,
        z,
        cell=16.0,
        left_bbox=("d_xmin", "d_ymin", "d_xmax", "d_ymax"),
        right_bbox=("z_xmin", "z_ymin", "z_xmax", "z_ymax"),
    )
    return pairs.select("n_nationkey", "c_custkey")


@register("join_spatial_refine")
def join_spatial_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bbox prefilter + exact ST_Intersects refine on GeoJSON diamonds
    inscribed in the rectangles (rows-only: DuckDB has no geometry here;
    kernel correctness is unit-tested on hand-built polygons)."""
    d = _district_rects(spark, sf_dir)
    z = _zip_rects(spark, sf_dir)

    def diamond(x0, y0, x1, y1):
        mx, my = (x0 + x1) / 2, (y0 + y1) / 2
        return F.to_json(
            F.struct(
                F.lit("Polygon").alias("type"),
                F.array(
                    F.array(
                        F.array(mx, y0),
                        F.array(x1, my),
                        F.array(mx, y1),
                        F.array(x0, my),
                        F.array(mx, y0),
                    )
                ).alias("coordinates"),
            )
        )

    d = d.withColumn(
        "d_geom",
        diamond(F.col("d_xmin"), F.col("d_ymin"), F.col("d_xmax"), F.col("d_ymax")),
    )
    z = z.withColumn(
        "z_geom",
        diamond(F.col("z_xmin"), F.col("z_ymin"), F.col("z_xmax"), F.col("z_ymax")),
    )
    pairs = bbox_grid_join(
        d,
        z,
        cell=16.0,
        left_bbox=("d_xmin", "d_ymin", "d_xmax", "d_ymax"),
        right_bbox=("z_xmin", "z_ymin", "z_xmax", "z_ymax"),
    )
    return (
        pairs.filter(st_intersects(F.col("d_geom"), F.col("z_geom")))
        .select("n_nationkey", "c_custkey")
        .orderBy("n_nationkey", "c_custkey")
    )


# ---------------------------------------------------------------------------
# Bounded-radius KNN join (grid-bucketed nearest neighbors)
# ---------------------------------------------------------------------------

KNN_K = 3
KNN_RADIUS = 5.0  # cell size == radius → 3×3 neighborhood is EXACT

SQL_POINTS = """
    pts AS (
        SELECT c_custkey AS id,
               CAST(c_custkey % 97 AS DOUBLE) + 1.0 AS x,
               CAST((c_custkey * 7) % 89 AS DOUBLE) + 1.0 AS y
        FROM customer)
"""


@register(
    "join_spatial_knn",
    oracle=f"""
    WITH {SQL_POINTS},
    probes AS (SELECT * FROM pts WHERE id % 50 = 0),
    scored AS (
        SELECT p.id AS probe_id, c.id AS cand_id,
               (p.x - c.x) * (p.x - c.x) + (p.y - c.y) * (p.y - c.y) AS dist2
        FROM probes p JOIN pts c ON c.id <> p.id)
    SELECT probe_id, cand_id, dist2
    FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                       ORDER BY dist2, cand_id) AS rn
          FROM scored WHERE dist2 <= {KNN_RADIUS * KNN_RADIUS})
    WHERE rn <= {KNN_K}
    """,
)
def join_spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius K-nearest-neighbor join: for each probe point, the
    {KNN_K} nearest points within radius {KNN_RADIUS} (zip-centroid
    points). Grid-bucketed: with cell size == radius, every point within R
    of a probe lies in the probe's 3×3 cell neighborhood, so expanding the
    probe side 9× and equi-joining on the cell is EXACTLY the
    bounded-radius KNN — no expanding-search loop, no missed neighbors.
    The oracle brute-forces all pairs; squared distances are single
    products/sums of integer-valued doubles, so exact. Scale shape: probe
    replication ×9, one hash join on the cell key, per-probe top-k window —
    O(points-per-cell), never O(n²)."""
    c = load(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") % 97).cast("double") + 1.0).alias("x"),
        (((F.col("c_custkey") * 7) % 89).cast("double") + 1.0).alias("y"),
    )
    cell = lambda v: F.floor(v / KNN_RADIUS).cast("long")  # noqa: E731
    cands = pts.select(
        F.col("id").alias("cand_id"),
        F.col("x").alias("cx"),
        F.col("y").alias("cy"),
        cell(F.col("x")).alias("gx"),
        cell(F.col("y")).alias("gy"),
    )
    neighborhood = F.flatten(
        F.transform(
            F.sequence(F.lit(-1), F.lit(1)),
            lambda dx: F.transform(
                F.sequence(F.lit(-1), F.lit(1)),
                lambda dy: F.struct(
                    (cell(F.col("x")) + dx).alias("gx"),
                    (cell(F.col("y")) + dy).alias("gy"),
                ),
            ),
        )
    )
    probes = (
        pts.filter(F.col("id") % 50 == 0)
        .select(
            F.col("id").alias("probe_id"),
            F.col("x").alias("px"),
            F.col("y").alias("py"),
            F.explode(neighborhood).alias("__cell"),
        )
        .select(
            "probe_id", "px", "py",
            F.col("__cell.gx").alias("gx"),
            F.col("__cell.gy").alias("gy"),
        )
    )
    dist2 = (F.col("px") - F.col("cx")) * (F.col("px") - F.col("cx")) + (
        F.col("py") - F.col("cy")
    ) * (F.col("py") - F.col("cy"))
    near = (
        probes.join(cands, ["gx", "gy"])
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select("probe_id", "cand_id", dist2.alias("dist2"))
        .filter(F.col("dist2") <= KNN_RADIUS * KNN_RADIUS)
    )
    return top_k(near, ["probe_id"], ["dist2", "cand_id"], k=KNN_K).select(
        "probe_id", "cand_id", "dist2"
    )


# ---------------------------------------------------------------------------
# Z-order layout key (bit-interleaved multi-dimensional clustering)
# ---------------------------------------------------------------------------

Z_BITS = 8  # 8 bits per dimension → 16-bit morton code


def _spread_sql(v: str) -> str:
    """DuckDB: spread the low Z_BITS bits of v to even positions."""
    return " + ".join(
        f"(((({v}) // {1 << b}) % 2) * {1 << (2 * b)})" for b in range(Z_BITS)
    )


def zorder_key(x, y) -> F.Column:
    """Morton / Z-order key: interleave the low Z_BITS bits of two grid
    coordinates. Rows sorted (or range-partitioned) by this key cluster
    2-D-nearby data into the same files, so min/max column statistics
    prune BOTH dimensions — the layout lever behind multi-column data
    skipping. Pure integer shifts, bit-identical on every engine."""
    parts = []
    for b in range(Z_BITS):
        bit_x = (x / (1 << b)).cast("long") % 2
        bit_y = (y / (1 << b)).cast("long") % 2
        parts.append(bit_x * (1 << (2 * b)) + bit_y * (1 << (2 * b + 1)))
    out = parts[0]
    for p in parts[1:]:
        out = out + p
    return out


@register(
    "fn_zorder_key",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS id,
               c_custkey % 97 AS gx,
               (c_custkey * 7) % 89 AS gy
        FROM customer)
    SELECT id, CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
           CAST({_spread_sql('gx')} + 2 * ({_spread_sql('gy')}) AS BIGINT)
               AS zkey
    FROM pts
    """,
)
def fn_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order key over the zip-centroid grid coordinates — the write-side
    twin of the grid read path: `df.repartitionByRange(F.col('zkey'))
    .sortWithinPartitions('zkey').write...` lays files out so bbox
    predicates on EITHER dimension prune parquet row groups."""
    c = load(spark, sf_dir, "customer")
    gx = (F.col("c_custkey") % 97).cast("long")
    gy = ((F.col("c_custkey") * 7) % 89).cast("long")
    return c.select(
        F.col("c_custkey").alias("id"),
        gx.alias("gx"),
        gy.alias("gy"),
        zorder_key(gx, gy).cast("long").alias("zkey"),
    )


# ---------------------------------------------------------------------------
# join_spatial_area_weight — areal-interpolation apportionment weights
# ---------------------------------------------------------------------------


@register(
    "join_spatial_area_weight",
    oracle=f"""
    WITH {SQL_RECTS},
    pairs AS (
        SELECT n_nationkey, c_custkey,
               greatest(0.0, least(d_xmax, z_xmax)
                             - greatest(d_xmin, z_xmin)) AS iw,
               greatest(0.0, least(d_ymax, z_ymax)
                             - greatest(d_ymin, z_ymin)) AS ih,
               (z_xmax - z_xmin) * (z_ymax - z_ymin) AS z_area
        FROM districts JOIN zips
          ON d_xmin <= z_xmax AND d_xmax >= z_xmin
         AND d_ymin <= z_ymax AND d_ymax >= z_ymin)
    SELECT n_nationkey, c_custkey,
           floor((iw * ih) * 10000.0 + 0.5) / 10000.0 AS inter_area,
           floor(((iw * ih) / z_area) * 10000.0 + 0.5) / 10000.0 AS weight
    FROM pairs
    WHERE iw > 0 AND ih > 0
    ORDER BY n_nationkey, c_custkey
    """,
)
def join_spatial_area_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Areal-interpolation weights — THE computation the reference's
    zip_code_overlap pipeline exists for
    (/root/reference/scripts/census/zip_code_overlap.py:25-38: assign each
    person's zip to districts by polygon overlap): for every intersecting
    (district, zip) pair, the intersection area and the SHARE of the
    zip's area falling inside the district. Downstream, zip-level counts
    are apportioned to districts as count × weight — the standard
    census areal-interpolation method; join_spatial answers WHETHER the
    pair overlaps, this answers HOW MUCH. Weights for one zip sum to ≤ 1
    (= 1 exactly when districts tile the zip; overlapping districts are
    reported as-is, deliberately — the apportioning consumer chooses the
    normalization).

    Determinism: fixture rectangle coordinates are integer-valued
    doubles, so the clipped intersection width/height and areas are
    EXACT IEEE doubles on both engines; the single rational (the share)
    goes through the stable_round4 form.

    Scale shape: the same grid-bucketed equi-join as join_spatial
    (reference-cell dedup, no distinct, no theta join); the area
    arithmetic is a per-pair projection. The oracle is the equivalent
    theta join over the un-bucketed relations.
    """
    d = _district_rects(spark, sf_dir)
    z = _zip_rects(spark, sf_dir)
    pairs = bbox_grid_join(
        d,
        z,
        cell=16.0,
        left_bbox=("d_xmin", "d_ymin", "d_xmax", "d_ymax"),
        right_bbox=("z_xmin", "z_ymin", "z_xmax", "z_ymax"),
    )
    iw = F.greatest(
        F.lit(0.0),
        F.least("d_xmax", "z_xmax") - F.greatest("d_xmin", "z_xmin"),
    )
    ih = F.greatest(
        F.lit(0.0),
        F.least("d_ymax", "z_ymax") - F.greatest("d_ymin", "z_ymin"),
    )
    z_area = (F.col("z_xmax") - F.col("z_xmin")) * (
        F.col("z_ymax") - F.col("z_ymin")
    )
    r4 = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0  # noqa: E731
    return (
        pairs.select(
            "n_nationkey",
            "c_custkey",
            iw.alias("iw"),
            ih.alias("ih"),
            z_area.alias("z_area"),
        )
        .filter((F.col("iw") > 0) & (F.col("ih") > 0))
        .select(
            "n_nationkey",
            "c_custkey",
            r4(F.col("iw") * F.col("ih")).alias("inter_area"),
            r4(F.col("iw") * F.col("ih") / F.col("z_area")).alias("weight"),
        )
        .orderBy("n_nationkey", "c_custkey")
    )
