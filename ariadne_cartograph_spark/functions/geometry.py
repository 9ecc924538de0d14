"""Geometry encoding & serialization (SURVEY.md §1.3, §4.2).

Spark has no native geometry type and no third-party extension is
assumed; the engine's vector-geometry encoding is:

    LineString ≙ array<struct<lng:double, lat:double>>  (EPSG:4326)
    Point      ≙ struct<lng:double, lat:double>

(coordinate order [lng, lat] matching GeoJSON, which is what the
reference consumes — `/root/reference/update_ways_metadata.py:25-28`.)

Serializers below are the engine's `ST_AsGeoJSON` / GeoJSON-parse
analogs (reference P2/P3: `st_asgeojson(the_geom)` +
`json.loads(geojson)['coordinates']`) — pure column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

POINT_TYPE = StructType(
    [StructField("lng", DoubleType()), StructField("lat", DoubleType())]
)
LINESTRING_TYPE = ArrayType(POINT_TYPE)


def point(lng: Column, lat: Column) -> Column:
    return F.struct(lng.cast("double").alias("lng"), lat.cast("double").alias("lat"))


def _fmt_num(c: Column) -> Column:
    # GeoJSON numbers without trailing ".0" for integral values — match
    # the compact form `json.dumps`/PostGIS emit. Uses repr-shortest
    # via cast to string of double.
    return c.cast("string")


def linestring_to_geojson(geom: Column | str) -> Column:
    """array<struct<lng,lat>> → '{"type":"LineString","coordinates":[[x,y],…]}'"""
    g = F.col(geom) if isinstance(geom, str) else geom
    coords = F.concat_ws(
        ",",
        F.transform(
            g,
            lambda p: F.concat(
                F.lit("["), _fmt_num(p["lng"]), F.lit(","), _fmt_num(p["lat"]), F.lit("]")
            ),
        ),
    )
    return F.concat(F.lit('{"type":"LineString","coordinates":['), coords, F.lit("]}"))


def geojson_to_linestring(geojson: Column | str) -> Column:
    """GeoJSON LineString text → array<struct<lng,lat>> (reference P3)."""
    j = F.col(geojson) if isinstance(geojson, str) else geojson
    pairs = F.from_json(
        F.get_json_object(j, "$.coordinates"), ArrayType(ArrayType(DoubleType()))
    )
    return F.transform(pairs, lambda xy: F.struct(xy[0].alias("lng"), xy[1].alias("lat")))


def is_closed_ring(refs: Column | str, min_refs: int = 4) -> Column:
    """Polygon-candidate classification (reference P13, README.md:35):
    first ref == last ref and enough vertices."""
    r = F.col(refs) if isinstance(refs, str) else refs
    return (F.size(r) >= min_refs) & (r[0] == F.element_at(r, -1))


def linestring_length_m(geom: Column | str) -> Column:
    """Sum of consecutive-vertex haversine distances (meters). NULL
    geometry → NULL (PostGIS ST_Length semantics, the P11 null-
    propagation contract); a degenerate 0/1-point line → 0.0."""
    from .geo import haversine_m

    g = F.col(geom) if isinstance(geom, str) else geom
    segs = F.when(
        F.size(g) >= 2,
        F.zip_with(
            F.slice(g, 1, F.size(g) - 1),
            F.slice(g, 2, F.size(g) - 1),
            lambda a, b: haversine_m(a["lng"], a["lat"], b["lng"], b["lat"]),
        ),
    ).otherwise(F.array().cast("array<double>"))
    return F.when(
        g.isNotNull(), F.aggregate(segs, F.lit(0.0), lambda acc, x: acc + x)
    )


def bbox(geom: Column | str) -> Column:
    """struct<min_lng,min_lat,max_lng,max_lat> of a linestring."""
    g = F.col(geom) if isinstance(geom, str) else geom
    lngs = F.transform(g, lambda p: p["lng"])
    lats = F.transform(g, lambda p: p["lat"])
    return F.struct(
        F.array_min(lngs).alias("min_lng"),
        F.array_min(lats).alias("min_lat"),
        F.array_max(lngs).alias("max_lng"),
        F.array_max(lats).alias("max_lat"),
    )


def point_in_ring(plng: Column, plat: Column, ring: Column) -> Column:
    """Even-odd ray-crossing containment test against one closed ring
    (first point == last) — pure column math over the vertex array
    (whole-stage codegen, no UDF): count edges whose y-span straddles
    the point's latitude and whose crossing x lies right of the point;
    odd count = inside. Boundary points (exactly on an edge/vertex)
    follow raw crossing semantics and may classify either way — callers
    with boundary-sensitive data snap/buffer upstream. The same formula
    as the multipolygon hole-attachment test (sources/osm.py pip), here
    as a reusable vectorized expression."""
    edges = F.zip_with(
        F.slice(ring, 1, F.size(ring) - 1),
        F.slice(ring, 2, F.size(ring) - 1),
        lambda a, b: F.struct(
            a["lng"].alias("x1"),
            a["lat"].alias("y1"),
            b["lng"].alias("x2"),
            b["lat"].alias("y2"),
        ),
    )
    crossing = F.filter(
        edges,
        lambda e: ((e["y1"] > plat) != (e["y2"] > plat))
        & (
            plng
            < e["x1"] + (plat - e["y1"]) * (e["x2"] - e["x1"]) / (e["y2"] - e["y1"])
        ),
    )
    return F.size(crossing) % 2 == 1


def point_in_polygon(
    plng: Column, plat: Column, geom: Column, holes: Column | None = None
) -> Column:
    """Containment in a polygon-with-holes (ST_Contains analog for the
    planet_osm_polygon rows): inside the outer ring and not inside any
    hole ring. With non-overlapping rings this equals the even-odd rule
    over all rings together — the form the SQL oracle uses."""
    inside = point_in_ring(plng, plat, geom)
    if holes is None:
        return inside
    in_hole = F.exists(holes, lambda h: point_in_ring(plng, plat, h))
    return inside & ~F.coalesce(in_hole, F.lit(False))


_MERC_R = 6378137.0  # EPSG:3857 sphere radius


def ring_area_m2(ring: Column) -> Column:
    """Shoelace area of one closed ring in EPSG:3857 square meters —
    osm2pgsql's ``way_area`` semantics (Mercator-plane area, inflated
    by ~1/cos²(lat) away from the equator, exactly as the reference's
    rendering tables store it — NOT geodesic area). Pure column math:
    project each vertex (x = R·λ, y = R·ln tan(π/4 + φ/2)), then
    |Σ xᵢ·yᵢ₊₁ − xᵢ₊₁·yᵢ| / 2 over consecutive vertex pairs."""
    import math

    proj = F.transform(
        ring,
        lambda p: F.struct(
            (p["lng"] * (math.pi * _MERC_R / 180.0)).alias("x"),
            (F.log(F.tan(math.pi / 4.0 + p["lat"] * (math.pi / 360.0))) * _MERC_R).alias("y"),
        ),
    )
    cross = F.zip_with(
        F.slice(proj, 1, F.size(proj) - 1),
        F.slice(proj, 2, F.size(proj) - 1),
        lambda a, b: a["x"] * b["y"] - b["x"] * a["y"],
    )
    return F.abs(F.aggregate(cross, F.lit(0.0), lambda acc, x: acc + x)) / 2.0


def polygon_area_m2(geom: Column, holes: Column | None = None) -> Column:
    """Polygon-with-holes area (way_area): outer ring minus hole rings
    (osm2pgsql subtracts holes)."""
    outer = ring_area_m2(geom)
    if holes is None:
        return outer
    empty = F.array().cast("array<array<struct<lng:double,lat:double>>>")
    hole_sum = F.aggregate(
        F.coalesce(holes, empty),
        F.lit(0.0),
        lambda acc, h: acc + ring_area_m2(h),
    )
    return outer - hole_sum


def simplify_radial_m(geom: Column, eps_m: float) -> Column:
    """Radial-distance line simplification (the sequential-fold member
    of the ST_Simplify family PostGIS rendering pipelines run before
    drawing low zooms): keep the first vertex, then every vertex at
    least ``eps_m`` (haversine) from the LAST KEPT vertex, and always
    the final vertex (endpoints preserved). One array fold — codegen,
    no UDF, and no recursion stack (unlike Douglas-Peucker), so it
    vectorizes per-row at any scale. Lines with ≤ 2 vertices pass
    through unchanged; NULL stays NULL."""
    from .geo import haversine_m

    g = geom

    def step(acc: Column, v: Column) -> Column:
        last = F.element_at(acc, -1)
        return F.when(
            haversine_m(last["lng"], last["lat"], v["lng"], v["lat"]) >= eps_m,
            F.concat(acc, F.array(v)),
        ).otherwise(acc)

    middle = F.slice(g, 2, F.greatest(F.size(g) - 2, F.lit(0)))
    kept = F.aggregate(middle, F.slice(g, 1, 1), step)
    with_last = F.concat(kept, F.slice(g, F.size(g), 1))
    return F.when(F.size(g) <= 2, g).otherwise(with_last)
