"""Spatial scalar helpers (SURVEY F13-F16).

The reference leans on PostGIS: point construction
(/root/reference/etl-notes.md:117-125), the ``<->`` KNN operator with a GiST
index (/root/reference/etl_lalf_road_qrt_spatial_match.py:80-87), and
ST_Intersects point-in-polygon (/root/reference/cam/tables/lf_address.py:80).
Spark has no spatial index, so the engine's scale strategy is grid bucketing
(``grid_cell``) + within-bucket distance + window top-k — see
operators/knn.py. All helpers are native expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def wkt_point(lon: Column, lat: Column) -> Column:
    """``POINT (lon lat)`` WKT literal
    (/root/reference/etl_lalf_geocode.py:71-74)."""
    return F.format_string("POINT (%s %s)", lon.cast("string"), lat.cast("string"))


def euclidean_distance(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Planar distance — what ``ORDER BY a.geom <-> b.geom`` ranks by for
    projected coordinates."""
    return F.sqrt(F.pow(x1 - x2, F.lit(2)) + F.pow(y1 - y2, F.lit(2)))


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km for lon/lat degrees (geodesic analogue of
    ST_Distance on geography)."""
    r = 6371.0088
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dphi = F.radians(lat2 - lat1)
    dlmb = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dphi / 2), F.lit(2)) + F.cos(p1) * F.cos(p2) * F.pow(F.sin(dlmb / 2), F.lit(2))
    return F.lit(2 * r) * F.asin(F.sqrt(a))


def grid_cell(x: Column, y: Column, cell_size: float) -> Column:
    """Bucket a point into a square grid cell — the shuffle key for the
    scale-out KNN join (replaces the GiST index,
    /root/reference/etl-notes.md:127-128)."""
    cx = F.floor(x / F.lit(cell_size)).cast("long")
    cy = F.floor(y / F.lit(cell_size)).cast("long")
    return F.concat_ws(":", cx, cy)


def parse_wkt_point(wkt: Column) -> tuple[Column, Column]:
    """(lon, lat) doubles from a ``POINT (lon lat)`` WKT literal — the read
    side of the S4 shapefile path (shapefile → GeoParquet/WKT column →
    parse at scan; /root/reference/etl-notes.md:32-58 loads via shp2pgsql,
    we pre-convert instead). Pure regexp, stays in codegen."""
    num = r"(-?[0-9]+(?:\.[0-9]+)?)"
    pat = rf"^POINT \({num} {num}\)$"
    # regexp_extract yields '' on no match — NULL it before the cast (ANSI
    # mode rejects ''::double), so malformed WKT parses to NULL, not error
    return (
        F.nullif(F.regexp_extract(wkt, pat, 1), F.lit("")).cast("double"),
        F.nullif(F.regexp_extract(wkt, pat, 2), F.lit("")).cast("double"),
    )


def parse_wkt_linestring(wkt: Column) -> Column:
    """LINESTRING WKT → array<struct<x double, y double>> vertex list
    (null for non-LINESTRING/malformed input — try_cast, so a garbage
    coordinate nulls the vertex instead of failing the job under ANSI).
    Pure column algebra: the parse stays in whole-stage codegen, matching
    the shapefile source's WKT output (sources/shapefile.py)."""
    body = F.regexp_extract(wkt, r"^LINESTRING\s*\((.+)\)\s*$", 1)
    verts = F.transform(
        F.split(body, r"\s*,\s*"),
        lambda p: F.struct(
            F.split(F.trim(p), r"\s+").getItem(0).try_cast("double").alias("x"),
            F.split(F.trim(p), r"\s+").getItem(1).try_cast("double").alias("y"),
        ),
    )
    return F.when(body != "", verts)


def point_to_segment_distance(
    px: Column, py: Column, ax: Column, ay: Column, bx: Column, by: Column
) -> Column:
    """Euclidean distance from point p to segment a-b: project p onto the
    segment's support line, clamp the parameter to [0, 1], measure to the
    clamped foot. Zero-length segments degrade to point distance."""
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    t_raw = F.when(len2 == 0, F.lit(0.0)).otherwise(
        ((px - ax) * dx + (py - ay) * dy) / len2
    )
    t = F.least(F.lit(1.0), F.greatest(F.lit(0.0), t_raw))
    cx, cy = ax + t * dx, ay + t * dy
    return F.sqrt((px - cx) * (px - cx) + (py - cy) * (py - cy))


def point_to_linestring_distance(px: Column, py: Column, verts: Column) -> Column:
    """Distance from a point to a polyline = min over its segments — the
    PostGIS ``point <-> linestring`` the reference's road matcher leans on
    (/root/reference/etl_lalf_road_qrt_spatial_match.py:80-87), as pure
    array algebra (transform over consecutive vertex pairs + array_min):
    no UDF, stays in codegen."""
    n = F.size(verts)
    first = F.element_at(verts, 1)
    seg_ds = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: point_to_segment_distance(
            px,
            py,
            F.element_at(verts, i + 1)["x"],
            F.element_at(verts, i + 1)["y"],
            F.element_at(verts, i + 2)["x"],
            F.element_at(verts, i + 2)["y"],
        ),
    )
    return (
        F.when(n.isNull() | (n == 0), F.lit(None).cast("double"))
        .when(
            n == 1,
            F.sqrt(
                (px - first["x"]) * (px - first["x"])
                + (py - first["y"]) * (py - first["y"])
            ),
        )
        .otherwise(F.array_min(seg_ds))
    )


def parse_wkt_polygon(wkt: Column) -> Column:
    """POLYGON WKT (exterior ring) → array<struct<x double, y double>>,
    null on non-POLYGON input. Interior rings (holes) after the first
    ``)`` are ignored — the subset the reference's postcode/cadastre
    fixtures use. Closing vertex is kept as written (a valid ring repeats
    the first vertex last)."""
    body = F.regexp_extract(wkt, r"^POLYGON\s*\(\(([^)]+)\)", 1)
    verts = F.transform(
        F.split(body, r"\s*,\s*"),
        lambda p: F.struct(
            F.split(F.trim(p), r"\s+").getItem(0).try_cast("double").alias("x"),
            F.split(F.trim(p), r"\s+").getItem(1).try_cast("double").alias("y"),
        ),
    )
    return F.when(body != "", verts)


def _ring_cross_terms(verts: Column) -> Column:
    """Per-edge cross products x_i*y_{i+1} − x_{i+1}*y_i over the closed
    ring (expects last vertex == first)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(verts) - 2),
        lambda i: F.element_at(verts, i + 1)["x"] * F.element_at(verts, i + 2)["y"]
        - F.element_at(verts, i + 2)["x"] * F.element_at(verts, i + 1)["y"],
    )


def polygon_signed_area(verts: Column) -> Column:
    """Shoelace signed area of a closed ring (positive = counter-clockwise)."""
    s = F.aggregate(_ring_cross_terms(verts), F.lit(0.0), lambda a, v: a + v)
    return s / 2.0


def polygon_area(verts: Column) -> Column:
    return F.abs(polygon_signed_area(verts))


def polygon_centroid(verts: Column) -> Column:
    """Area-weighted ring centroid: C = Σ (v_i + v_{i+1}) · cross_i / (6·A_signed).
    Degenerate (zero-area) rings fall back to the first vertex."""
    a_signed = polygon_signed_area(verts)
    cx_sum = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.size(verts) - 2),
            lambda i: (
                F.element_at(verts, i + 1)["x"] + F.element_at(verts, i + 2)["x"]
            )
            * (
                F.element_at(verts, i + 1)["x"] * F.element_at(verts, i + 2)["y"]
                - F.element_at(verts, i + 2)["x"] * F.element_at(verts, i + 1)["y"]
            ),
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    cy_sum = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.size(verts) - 2),
            lambda i: (
                F.element_at(verts, i + 1)["y"] + F.element_at(verts, i + 2)["y"]
            )
            * (
                F.element_at(verts, i + 1)["x"] * F.element_at(verts, i + 2)["y"]
                - F.element_at(verts, i + 2)["x"] * F.element_at(verts, i + 1)["y"]
            ),
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    first = F.element_at(verts, 1)
    return F.when(
        a_signed == 0,
        F.struct(first["x"].alias("cx"), first["y"].alias("cy")),
    ).otherwise(
        F.struct(
            (cx_sum / (6.0 * a_signed)).alias("cx"),
            (cy_sum / (6.0 * a_signed)).alias("cy"),
        )
    )


def polygon_bbox(verts: Column) -> Column:
    xs = F.transform(verts, lambda v: v["x"])
    ys = F.transform(verts, lambda v: v["y"])
    return F.struct(
        F.array_min(xs).alias("xmin"),
        F.array_min(ys).alias("ymin"),
        F.array_max(xs).alias("xmax"),
        F.array_max(ys).alias("ymax"),
    )


def linestring_length_km(verts: Column) -> Column:
    """Geodesic length of a LINESTRING vertex array (x=lon, y=lat degrees):
    the sum of haversine segment lengths — ST_Length on geography for the
    reference's road centrelines (/root/reference/etl-notes.md:32-58).
    Pure array algebra (aggregate over consecutive vertex pairs); stays in
    codegen, NULL input propagates to NULL."""
    n = F.size(verts)
    idx = F.sequence(F.lit(0), n - 2)
    seg = F.transform(
        idx,
        lambda i: haversine_km(
            F.element_at(verts, i + 1)["y"],
            F.element_at(verts, i + 1)["x"],
            F.element_at(verts, i + 2)["y"],
            F.element_at(verts, i + 2)["x"],
        ),
    )
    total = F.aggregate(seg, F.lit(0.0), lambda acc, v: acc + v)
    return F.when(n >= 2, total)


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton/Z-order interleave of two non-negative integer grid
    coordinates: bit b of ``x`` lands at key bit 2b, bit b of ``y`` at
    2b+1. Sorting/partitioning by the key puts spatially-near rows in
    the same file so min/max or partition pruning answers bbox queries
    from a few contiguous key ranges — the layout step (Delta's
    OPTIMIZE ZORDER) a 100 TB geocoded corpus needs before serving
    spatial filters. Pure integer shift/mask/sum column algebra; the
    DuckDB twin is ``list_sum(list_transform(range(bits), b ->
    ((x >> b) & 1) * 2**(2*b) + ((y >> b) & 1) * 2**(2*b+1)))``."""
    if not 1 <= bits <= 31:
        raise ValueError("zorder_key: bits must be in [1, 31]")
    key = F.lit(0).cast("long")
    for b in range(bits):
        key = (
            key
            + F.shiftright(x.cast("long"), b).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * b))
            + F.shiftright(y.cast("long"), b).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * b + 1))
        )
    return key
