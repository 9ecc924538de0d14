"""GIS operator catalog entries (SURVEY.md §2.3 P5/P6, §3 E1, §2.2 J4).

Two flavors:

- **Oracle-checked** queries derive deterministic coordinates from the
  driver testdata (pure IEEE arithmetic — engine-identical) and check
  the projection/tile/enrichment math against DuckDB computing the
  same closed forms analytically. The flagship
  ``ways_enrichment_pipeline`` runs the ENTIRE reference dataflow
  (explode → project → distinct-tile join → binary-tile pixel sampling
  in applyInPandas → exact median → broadcast normalize) while the
  oracle recomputes pixel values symbolically — an end-to-end
  cross-engine check of E1.
- **Fixture-census** queries exercise the OSM ingest / topology / POI
  pipelines on the repository's seeded OSM fixture
  (sources/osm_fixture.py; no OSM tables exist in the oracle's view
  set): their oracles are literal census rows, each recomputed from
  the XML by plain Python in tests/test_osm_fixture.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import money_sum
from ..functions.geo import grid_cell, haversine_m, lnglat_to_tile_pixel, project_4326_to_3857
from ..sources.tables import load_table
from .catalog import register

# Shared synthetic coordinate derivation (documented once, used by both
# engines): events → world lng/lat; lineitem → bbox-local ways.
_EV_LNG = "value - 180.0"
_EV_LAT = "CASE WHEN event_id % 97 = 0 THEN 89.5 ELSE (value % 160.0) - 80.0 END"


@register(
    "geo_tile_projection",
    tags=["P5", "P6"],
    oracle=f"""
WITH pts AS (
  SELECT event_id, {_EV_LNG} AS lng, {_EV_LAT} AS lat FROM events),
proj AS (
  SELECT event_id, lng, lat,
         256 * (0.5 + lng / 360) AS wx,
         256 * (0.5 - ln((1 + least(greatest(sin(lat * pi() / 180), -0.9999), 0.9999))
                       / (1 - least(greatest(sin(lat * pi() / 180), -0.9999), 0.9999)))
                 / (4 * pi())) AS wy
  FROM pts)
SELECT event_id,
       CAST(wx AS FLOAT) AS wx_f, CAST(wy AS FLOAT) AS wy_f,
       CAST(floor(wx * 4096 / 256) AS BIGINT) AS tile_x,
       CAST(floor(wy * 4096 / 256) AS BIGINT) AS tile_y,
       -- python-modulo (always >= 0), not remainder: matches the
       -- reference's `w * scale % T` and the engine's pmod
       CAST(floor(((wx * 4096 % 256) + 256) % 256) AS BIGINT) AS px,
       CAST(floor(((wy * 4096 % 256) + 256) % 256) AS BIGINT) AS py
FROM proj
ORDER BY event_id
""",
)
def geo_tile_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5+P6 on testdata-derived world coordinates (incl. the ±89.189°
    clamp branch via the 89.5° rows)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        F.expr(_EV_LNG).alias("lng"),
        F.expr(_EV_LAT).alias("lat"),
    )
    wx, wy = project_4326_to_3857("lng", "lat")
    tx, ty, px, py = lnglat_to_tile_pixel("lng", "lat", zoom=12)
    return pts.select(
        "event_id",
        wx.cast("float").alias("wx_f"),
        wy.cast("float").alias("wy_f"),
        tx.alias("tile_x"),
        ty.alias("tile_y"),
        px.alias("px"),
        py.alias("py"),
    ).orderBy("event_id")


@register(
    "geo_haversine_user_path",
    tags=["P14", "W3"],
    oracle=f"""
WITH pts AS (
  SELECT user_id, ts, event_id, {_EV_LNG} AS lng, {_EV_LAT} AS lat FROM events),
hops AS (
  SELECT user_id,
         lng, lat,
         lag(lng) OVER w AS plng, lag(lat) OVER w AS plat
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id,
       count(plng) AS n_hops,
       CAST(sum(2 * 6371008.8 * asin(sqrt(
           sin((lat - plat) * pi() / 180 / 2) ^ 2
           + cos(plat * pi() / 180) * cos(lat * pi() / 180)
             * sin((lng - plng) * pi() / 180 / 2) ^ 2))) AS FLOAT) AS path_m
FROM hops
GROUP BY user_id
ORDER BY user_id
""",
)
def geo_haversine_user_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", "ts", "event_id", F.expr(_EV_LNG).alias("lng"), F.expr(_EV_LAT).alias("lat")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    hops = pts.select(
        "user_id",
        "lng",
        "lat",
        F.lag("lng").over(w).alias("plng"),
        F.lag("lat").over(w).alias("plat"),
    )
    return (
        hops.groupBy("user_id")
        .agg(
            F.count("plng").alias("n_hops"),
            F.sum(haversine_m(F.col("plng"), F.col("plat"), F.col("lng"), F.col("lat")))
            .cast("float")
            .alias("path_m"),
        )
        .orderBy("user_id")
    )


@register(
    "geo_grid_cell_density",
    tags=["J4", "A5"],
    oracle=f"""
WITH pts AS (SELECT {_EV_LNG} AS lng, {_EV_LAT} AS lat, value FROM events)
SELECT CAST(floor(lng / 0.0625) AS BIGINT) AS cx,
       CAST(floor(lat / 0.0625) AS BIGINT) AS cy,
       count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(27,2))), 2) AS DOUBLE) AS total
FROM pts
GROUP BY 1, 2
ORDER BY cx, cy
""",
)
def geo_grid_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(F.expr(_EV_LNG).alias("lng"), F.expr(_EV_LAT).alias("lat"), "value")
    cx, cy = grid_cell("lng", "lat", 0.0625)
    return (
        pts.groupBy(cx.alias("cx"), cy.alias("cy"))
        .agg(F.count(F.lit(1)).alias("n"), money_sum("value").alias("total"))
        .orderBy("cx", "cy")
    )


# --------------------------------------------------------------------------
# Flagship: end-to-end enrichment (E1) on SF-scaled synthetic ways.
# --------------------------------------------------------------------------

# lineitem → ways inside the reference fixture's bbox: lng/lat from
# price/quantity (pure IEEE arithmetic), vertex order = l_linenumber.
_LI_LNG = "-118.13 + (l_extendedprice % 1400.0) / 100000.0"
_LI_LAT = "34.1348 + ((l_quantity * 171.0) % 800.0) / 100000.0"


def ways_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_orderkey").alias("gid"),
        F.col("l_linenumber").alias("pos"),
        F.expr(_LI_LNG).alias("lng"),
        F.expr(_LI_LAT).alias("lat"),
    )
    return pts.groupBy("gid").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "pos",
                        F.struct(F.col("lng"), F.col("lat")).alias("pt"),
                    )
                )
            ),
            lambda s: s["pt"],
        ).alias("geom")
    )


@register(
    "ways_enrichment_pipeline",
    headline=True,
    # W2: the pipeline assembles way vertex arrays order-preservingly
    # (sources/osm.py assemble_way_geometries); tagged explicitly
    # since r14 when events_session_paths made W2 a carried tag.
    tags=["E1", "S2", "S3", "J2", "P4", "P5", "P6", "P7", "A1", "A2", "A3", "W2"],
    oracle=f"""
WITH pts AS (
  SELECT l_orderkey AS gid,
         {_LI_LNG} AS lng,
         {_LI_LAT} AS lat
  FROM lineitem),
proj AS (
  SELECT gid,
         256 * (0.5 + lng / 360) AS wx,
         256 * (0.5 - ln((1 + least(greatest(sin(lat * pi() / 180), -0.9999), 0.9999))
                       / (1 - least(greatest(sin(lat * pi() / 180), -0.9999), 0.9999)))
                 / (4 * pi())) AS wy
  FROM pts),
px AS (
  SELECT gid,
         CAST(floor(wx * 4096 / 256) AS BIGINT) AS x,
         CAST(floor(wy * 4096 / 256) AS BIGINT) AS y,
         CAST(floor(wx * 4096 % 256) AS BIGINT) AS px,
         CAST(floor(wy * 4096 % 256) AS BIGINT) AS py
  FROM proj),
vals AS (
  SELECT gid, CAST((px + py + x + y + 12) % 256 AS DOUBLE) / 255 AS v FROM px),
med AS (SELECT gid, median(v) AS med FROM vals GROUP BY gid),
gmax AS (SELECT max(med) AS gmax FROM med)
SELECT gid,
       CAST(med AS FLOAT) AS median_value,
       CAST(med / gmax AS FLOAT) AS popularity
FROM med, gmax
ORDER BY gid
""",
)
def ways_enrichment_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole E1 dataflow, SF-scaled: Spark runs the
    real thing (binary tiles, pandas sampler, median, normalize); the
    oracle recomputes pixel values analytically from the closed-form
    synthetic tile definition."""
    from ..operators.enrich import STRAVA_PROVIDER, sample_tile_values

    ways = ways_from_lineitem(spark, sf_dir)
    sampled = sample_tile_values(spark, ways, [STRAVA_PROVIDER])
    # no persist: runtime exchange reuse dedupes the shared subtree
    # under gmax (see operators/enrich.py:enrich_ways note)
    med = sampled.groupBy("gid").agg(F.median("value").alias("med"))
    gmax = med.agg(F.max("med").alias("gmax"))
    return (
        med.crossJoin(F.broadcast(gmax))
        .select(
            "gid",
            F.col("med").cast("float").alias("median_value"),
            (F.col("med") / F.col("gmax")).cast("float").alias("popularity"),
        )
        .orderBy("gid")
    )


# --------------------------------------------------------------------------
# OSM ingest / topology / POI pipelines on the repository's seeded OSM
# fixture (sources/osm_fixture.py; no OSM tables in the oracle views).
# --------------------------------------------------------------------------


def _osm_path() -> str:
    # imported on first use, so importing the catalog stays free of it
    from ..sources.osm_fixture import ensure_osm_fixture

    return ensure_osm_fixture()


# The osm_* oracles are literal census rows of the seeded fixture: the
# generator writes the same bytes on every host, and
# tests/test_osm_fixture.py recomputes every value below from the XML
# with plain Python (ElementTree census, dict topology, BFS, haversine,
# shoelace areas, changeset replay) — no engine code. A literal oracle
# turns the whole ingest/topology pipeline into a value-hash check
# instead of a rows-only count.

# polygon = 448 closed tagged ways + 4 multipolygon relations; the
# same plain ElementTree census runs in tests/test_osm_ingest.py.
_OSM_INGEST_ORACLE = """
SELECT * FROM (VALUES
  ('line',    CAST(709 AS BIGINT)),
  ('point',   CAST(171 AS BIGINT)),
  ('polygon', CAST(452 AS BIGINT)),
  ('roads',   CAST(190 AS BIGINT))
) t(table_name, n_rows)
ORDER BY table_name
"""


@register(
    "osm_ingest_feature_tables",
    headline=True,  # fences the OSM XML mapInPandas ingest (r4 advice)
    # W2: the ingest assembles way-node arrays order-preservingly
    # (sources/osm.py assemble_way_geometries — the sort-by-rank
    # struct scheme); tagged explicitly since r14 when
    # events_session_paths made W2 a carried tag.
    tags=["S6", "S7", "P12", "P13", "W2"],
    oracle=_OSM_INGEST_ORACLE,
)
def osm_ingest_feature_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full osm2pgsql-analog ingest on the seeded OSM fixture: XML →
    element tables → way-geometry assembly → style-driven promotion →
    planet_osm_* family, with polygon = closed tagged ways PLUS
    multipolygon relations (README.md:37). Output: per-table row
    counts, value-hash checked against the golden fixture census."""
    from ..sources.osm import (
        assemble_way_geometries,
        derive_feature_tables,
        read_osm_elements,
        split_elements,
    )

    t = split_elements(read_osm_elements(spark, _osm_path()))
    geo = assemble_way_geometries(t["nodes"], t["ways"])
    tables = derive_feature_tables(t["nodes"], geo, relations=t["relations"])
    stats = None
    for name, df in tables.items():
        row = df.agg(F.count(F.lit(1)).alias("n_rows")).select(
            F.lit(name).alias("table_name"), "n_rows"
        )
        stats = row if stats is None else stats.unionByName(row)
    return stats.orderBy("table_name")


@register(
    "osm_ingest_pbf_parity",
    tags=["S6"],
    oracle=_OSM_INGEST_ORACLE,
)
def osm_ingest_pbf_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME ingest through the PBF path — the splittable planet
    format (sources/osm_pbf.py): the fixture transcodes once to a
    multi-block PBF (cached, deterministic), the blob-parallel reader
    decodes it, and the identical downstream (assembly → promotion →
    planet_osm_*) must reproduce the same golden census literals the
    XML entry hashes against. Format parity under the value hash."""
    from ..sources.osm import (
        assemble_way_geometries,
        derive_feature_tables,
        split_elements,
    )
    from ..sources.osm_pbf import ensure_pbf_fixture, read_osm_pbf

    p = ensure_pbf_fixture(_osm_path())
    t = split_elements(read_osm_pbf(spark, f"file://{p}"))
    geo = assemble_way_geometries(t["nodes"], t["ways"])
    tables = derive_feature_tables(t["nodes"], geo, relations=t["relations"])
    stats = None
    for name, df in tables.items():
        row = df.agg(F.count(F.lit(1)).alias("n_rows")).select(
            F.lit(name).alias("table_name"), "n_rows"
        )
        stats = row if stats is None else stats.unionByName(row)
    return stats.orderBy("table_name")


# Census under the STOCK osm2pgsql default.style with full flag
# semantics (delete/polygon/area) — re-derived independently in
# tests/test_osm_ingest.py::test_style_driven_feature_tables_census
# via a plain ElementTree pass: point = nodes with a non-deleted tag
# (82 of the 171 tagged nodes — the rest carry only source/
# created_by/note, which the stock style deletes); polygon = 447
# closed ways with a polygon-flagged tag (area rules applied: the
# area=yes plaza counts, the area=no track does not) + 4 multipolygon
# relations.
_OSM_STYLE_ORACLE = """
SELECT * FROM (VALUES
  ('line',    CAST(709 AS BIGINT)),
  ('point',   CAST(82 AS BIGINT)),
  ('polygon', CAST(451 AS BIGINT)),
  ('roads',   CAST(190 AS BIGINT))
) t(table_name, n_rows)
ORDER BY table_name
"""


@register("osm_style_feature_tables", tags=["S6", "P12"], oracle=_OSM_STYLE_ORACLE)
def osm_style_feature_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same planet_osm_* derivation driven by a REAL osm2pgsql
    style file (README.md:17 `-S default.style`; format parsed by
    sources/style.py): per-kind column promotion with datatype casts,
    delete-flagged tags dropped before import, polygon membership from
    the polygon flags + area=yes/no overrides. Value-hash checked
    against the golden fixture census."""
    from ..sources.osm import (
        assemble_way_geometries,
        default_style_rules,
        derive_feature_tables,
        read_osm_elements,
        split_elements,
    )

    t = split_elements(read_osm_elements(spark, _osm_path()))
    geo = assemble_way_geometries(t["nodes"], t["ways"])
    tables = derive_feature_tables(
        t["nodes"], geo, style=default_style_rules(), relations=t["relations"]
    )
    stats = None
    for name, df in tables.items():
        row = df.agg(F.count(F.lit(1)).alias("n_rows")).select(
            F.lit(name).alias("table_name"), "n_rows"
        )
        stats = row if stats is None else stats.unionByName(row)
    return stats.orderBy("table_name")


# Attribute columns (--attributes --tags analog): 12 distinct highway
# classes / 19 oneway ways / 181 named ways among edge-producing
# routable ways — independently re-derived from the XML in
# tests/test_topology_spatial.py::test_edge_attributes_census.
_OSM_TOPOLOGY_ORACLE = """
SELECT CAST(785 AS BIGINT) AS n_edges,
       CAST(254 AS BIGINT) AS n_ways,
       CAST(400 AS BIGINT) AS n_sources,
       CAST(423 AS BIGINT) AS n_targets,
       CAST(2356 AS BIGINT) AS total_vertices,
       CAST(785749128 AS BIGINT) AS sum_source_ids,
       CAST(12 AS BIGINT) AS n_highway_classes,
       CAST(19 AS BIGINT) AS n_oneway_ways,
       CAST(181 AS BIGINT) AS n_named_ways
"""


@register("osm_topology_edges", tags=["S8"], oracle=_OSM_TOPOLOGY_ORACLE)
def osm_topology_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routable topology (osm2pgrouting analog) on the fixture —
    summary census of the edge table (counts + exact integer id
    checksums), golden-oracle checked; per-edge geometry is pinned in
    tests/test_topology_spatial.py."""
    from ..operators.topology import build_topology, routable_ways
    from ..sources.osm import read_osm_elements, split_elements

    t = split_elements(read_osm_elements(spark, _osm_path()))
    edges = build_topology(t["nodes"], routable_ways(t["ways"]))["edges"]
    return edges.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.countDistinct("osm_way_id").alias("n_ways"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("target").alias("n_targets"),
        F.sum(F.size("geom")).cast("bigint").alias("total_vertices"),
        F.sum("source").cast("bigint").alias("sum_source_ids"),
        # --attributes --tags evidence: way attributes ride every edge
        F.countDistinct("highway").alias("n_highway_classes"),
        F.countDistinct(
            F.when(F.col("oneway").isin("yes", "true", "1"), F.col("osm_way_id"))
        ).alias("n_oneway_ways"),
        F.countDistinct(
            F.when(F.col("name").isNotNull(), F.col("osm_way_id"))
        ).alias("n_named_ways"),
    )


# Tag-key index scan (S9's hstore-GiST substitute as a driver-hashed
# pipeline): write the fixture ways tag-indexed, read back, answer
# `tags ? k` / `tags->k = v` through the pushed __has_<key> presence
# columns. Golden census re-derived independently by a plain
# ElementTree pass in tests (122 residential ways / 22 amenity-tagged
# / 424 building-tagged; exact id checksum for the value query).
_TAG_INDEX_ORACLE = """
SELECT CAST(122 AS BIGINT) AS n_residential,
       CAST(244074057 AS BIGINT) AS sum_residential_ids,
       CAST(22 AS BIGINT) AS n_amenity_ways,
       CAST(424 AS BIGINT) AS n_building_ways
"""


@register("scan_tag_index_pruned", tags=["S9", "S10", "P12"], oracle=_TAG_INDEX_ORACLE)
def scan_tag_index_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write → scan through the tag-key presence index
    (sources/layout.py write_tag_indexed / indexed_tag_predicate — the
    substitute for the reference's `CREATE INDEX ... USING gist(tags)`,
    README.md:29-31): the presence booleans reach the parquet scan as
    pushed filters with row-group stats (pinned in
    tests/test_layout_config.py), the map lookup runs only on
    surviving groups, answers hash-equal to raw map filters."""
    from ..session import work_dir
    from ..sources.layout import (
        TAG_INDEX_LAYOUT_VERSION,
        indexed_tag_predicate,
        write_tag_indexed,
    )
    from ..sources.osm import read_osm_elements, split_elements

    # The index is a pure function of the fixture, the key list and the
    # on-disk layout version, so it is built once per process.
    keys = ["highway", "amenity", "building"]
    osm_path = _osm_path()

    def build(d: str) -> None:
        ways = split_elements(read_osm_elements(spark, osm_path))["ways"]
        write_tag_indexed(ways, d, keys=keys)

    path = work_dir(("tag_index", osm_path, keys, TAG_INDEX_LAYOUT_VERSION), build)
    back = spark.read.parquet(path)
    res = back.filter(indexed_tag_predicate(back, "highway", "residential"))
    return spark.range(1).select(
        F.lit(res.count()).cast("bigint").alias("n_residential"),
        F.lit(res.agg(F.sum("id")).collect()[0][0])
        .cast("bigint")
        .alias("sum_residential_ids"),
        F.lit(back.filter(indexed_tag_predicate(back, "amenity")).count())
        .cast("bigint")
        .alias("n_amenity_ways"),
        F.lit(back.filter(indexed_tag_predicate(back, "building")).count())
        .cast("bigint")
        .alias("n_building_ways"),
    )


# Census per import profile, re-derived independently in
# tests/test_mapconfig.py: the stock profile covers all 12 fixture
# highway classes, so its edge set is IDENTICAL to the legacy
# highway-tagged import (785 edges / 254 ways — same as
# _OSM_TOPOLOGY_ORACLE); the pedestrian profile keeps the 4 foot
# classes (19 edges / 19 ways). Float sums follow the round-then-f32
# parity policy.
_OSM_MAPCONFIG_ORACLE = """
SELECT * FROM (VALUES
  ('pedestrian', CAST(19 AS BIGINT), CAST(19 AS BIGINT), CAST(4 AS BIGINT),
   CAST(2276 AS BIGINT), CAST(1550.7 AS FLOAT), CAST(1401.2 AS FLOAT),
   CAST(0 AS BIGINT), CAST(1875.7 AS FLOAT)),
  ('stock', CAST(785 AS BIGINT), CAST(254 AS BIGINT), CAST(12 AS BIGINT),
   CAST(87889 AS BIGINT), CAST(48424.8 AS FLOAT), CAST(4440.5 AS FLOAT),
   CAST(57 AS BIGINT), CAST(12221.0 AS FLOAT))
) t(profile, n_edges, n_ways, n_classes, sum_tag_ids, total_length_m,
    total_cost_s, n_oneway_edges, total_weighted_cost)
ORDER BY profile
"""

# A custom import profile (the mapconfig analog of a rail-only /
# foot-only osm2pgrouting run): 4 foot classes with walking speeds.
PEDESTRIAN_MAPCONFIG_XML = """\
<configuration>
  <tag_name name="highway" id="1">
    <tag_value name="pedestrian" id="116" priority="1.0" maxspeed="5" />
    <tag_value name="path"       id="119" priority="1.0" maxspeed="5" />
    <tag_value name="footway"    id="121" priority="1.0" maxspeed="5" />
    <tag_value name="steps"      id="124" priority="2.0" maxspeed="2" />
  </tag_name>
</configuration>
"""


@register("osm_topology_mapconfig", tags=["S8", "P12"], oracle=_OSM_MAPCONFIG_ORACLE)
def osm_topology_mapconfig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routable import driven by a REAL osm2pgrouting mapconfig.xml
    (README.md:44 `-c mapconfig.xml`; format parsed by
    sources/mapconfig.py) — the declarative path for routable-way
    selection and the class→(id, priority, speed) cost table. Two
    profiles over the fixture: the stock osm2pgrouting config and a
    pedestrian-only custom config, each summarized to an edge/cost
    census. The stock profile's edge set provably equals the legacy
    highway-tagged import on this fixture (same 785/254 census as
    osm_topology_edges)."""
    from ..operators.topology import build_topology, edge_costs, routable_ways
    from ..sources.mapconfig import default_mapconfig, parse_mapconfig
    from ..sources.osm import read_osm_elements, split_elements

    t = split_elements(read_osm_elements(spark, _osm_path()))
    out = None
    for profile, cfg in (
        ("stock", default_mapconfig()),
        ("pedestrian", parse_mapconfig(PEDESTRIAN_MAPCONFIG_XML)),
    ):
        edges = build_topology(t["nodes"], routable_ways(t["ways"], config=cfg))[
            "edges"
        ]
        row = edge_costs(edges, config=cfg).agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.countDistinct("osm_way_id").alias("n_ways"),
            F.countDistinct("tag_id").alias("n_classes"),
            F.sum("tag_id").cast("bigint").alias("sum_tag_ids"),
            F.round(F.sum("length_m"), 1).cast("float").alias("total_length_m"),
            F.round(F.sum("cost_s"), 1).cast("float").alias("total_cost_s"),
            F.sum(F.when(F.col("reverse_cost_s") == -1.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_oneway_edges"),
            F.round(F.sum(F.col("cost_s") * F.col("class_priority")), 1)
            .cast("float")
            .alias("total_weighted_cost"),
        ).select(F.lit(profile).alias("profile"), "*")
        out = row if out is None else out.unionByName(row)
    return out.orderBy("profile")


# A deterministic OsmChange changeset over fixture ids (the osm2pgsql
# --append replication path, README.md:19): deletes 3 unreferenced
# amenity nodes + one modify-then-delete survey node, moves 2 shape
# points of one street way (shifting its geometry), retags the
# residential way North 5 Avenue to tertiary while dropping its last
# two vertices, creates a 2-node footway, and exercises the
# last-op-wins collapse (create→modify on one node). The ids are the
# roles sources/osm_fixture.generate() writes (tests/test_osm_fixture.py
# checks each one); shared with tests/test_osm_diff.py, which pins the
# per-operation semantics.
OSC_DELETED_AMENITY_NODES = (1014970, 1014978, 1015005)
OSC_MOVED_NODES = (1002558, 1002566)
OSC_RETAGGED_WAY = 2000735
# the retagged way's first five refs (its seven-vertex way keeps these)
OSC_RETAGGED_WAY_REFS = (1000224, 1004355, 1000310, 1004363, 1000420)
OSC_NEW_NODES = (9000000001, 9000000002)
OSC_NEW_WAY = 900000001
OSC_CREATE_THEN_MODIFY_NODE = 9000000003
OSC_MODIFY_THEN_DELETE_NODE = 1015066
# a no_left_turn whose to-way is the retagged way (via its first ref)
OSC_RESTRICTION = 3000023
# a multipolygon with one hole, and its outer member way
OSC_MULTIPOLYGON = 3000004
OSC_MULTIPOLYGON_WAY = 2003581
# a bus route that a route_master lists
OSC_DELETED_ROUTE = 3000052

_OSC_RETAGGED_NDS = "\n".join(f'      <nd ref="{r}"/>' for r in OSC_RETAGGED_WAY_REFS)
EXAMPLE_OSC_XML = f"""<?xml version="1.0" encoding="UTF-8"?>
<osmChange version="0.6" generator="test">
  <create>
    <node id="{OSC_NEW_NODES[0]}" version="1" lat="34.1400" lon="-118.1200"/>
    <node id="{OSC_NEW_NODES[1]}" version="1" lat="34.1401" lon="-118.1202"/>
    <node id="{OSC_CREATE_THEN_MODIFY_NODE}" version="1" lat="34.1402" lon="-118.1204">
      <tag k="amenity" v="bench"/>
    </node>
    <way id="{OSC_NEW_WAY}" version="1">
      <nd ref="{OSC_NEW_NODES[0]}"/>
      <nd ref="{OSC_NEW_NODES[1]}"/>
      <tag k="highway" v="footway"/>
      <tag k="name" v="New Path"/>
    </way>
  </create>
  <modify>
    <node id="{OSC_MOVED_NODES[0]}" version="2" lat="34.1336406" lon="-118.1396192"/>
    <node id="{OSC_MOVED_NODES[1]}" version="2" lat="34.1335361" lon="-118.1390888"/>
    <node id="{OSC_MODIFY_THEN_DELETE_NODE}" version="2" lat="34.1403" lon="-118.1206"/>
    <node id="{OSC_CREATE_THEN_MODIFY_NODE}" version="2" lat="34.1402" lon="-118.1204">
      <tag k="amenity" v="cafe"/>
    </node>
    <way id="{OSC_RETAGGED_WAY}" version="2">
{_OSC_RETAGGED_NDS}
      <tag k="highway" v="tertiary"/>
      <tag k="name" v="North 5 Avenue"/>
    </way>
  </modify>
  <delete>
    <node id="{OSC_DELETED_AMENITY_NODES[0]}" version="2"/>
    <node id="{OSC_DELETED_AMENITY_NODES[1]}" version="2"/>
    <node id="{OSC_DELETED_AMENITY_NODES[2]}" version="2"/>
    <node id="{OSC_MODIFY_THEN_DELETE_NODE}" version="3"/>
  </delete>
</osmChange>
"""


def ensure_osc_fixture() -> str:
    """Write the changeset once per process (a keyed work directory, like
    ensure_pbf_fixture's transcode) and return its path."""
    import os

    from ..session import work_dir

    def build(d: str) -> None:
        with open(os.path.join(d, "example.osc"), "w") as f:
            f.write(EXAMPLE_OSC_XML)

    return os.path.join(work_dir("example.osc", build), "example.osc")


_OSM_DIFF_ORACLE = """
SELECT CAST(3 AS BIGINT) AS n_affected_ways,
       CAST(3 AS BIGINT) AS n_rebuilt_ways,
       CAST(0 AS BIGINT) AS n_deleted_ways,
       CAST(0 AS BIGINT) AS n_incremental_vs_full_mismatch,
       CAST(3067 AS BIGINT) AS patched_nodes,
       CAST(710 AS BIGINT) AS patched_ways,
       CAST(12 AS BIGINT) AS sum_rebuilt_vertices,
       CAST(904000923 AS BIGINT) AS sum_affected_way_ids
"""


@register("osm_diff_incremental_parity", tags=["S7", "S6"], oracle=_OSM_DIFF_ORACLE)
def osm_diff_incremental_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OsmChange replication diff applied two ways — the incremental
    path (broadcast anti-join apply + blast-radius-only geometry
    recompute, sources/osm_diff.py) and the full re-assembly of the
    patched elements — with the row-level mismatch count between them
    under the hash (must be 0). The census is golden: blast radius,
    rebuilt rows, patched element counts, exact vertex/id checksums."""
    from ..sources.osm import assemble_way_geometries
    from ..sources.osm_diff import (
        apply_osc,
        incremental_way_geometries,
        read_osc_elements,
    )
    from ..sources.osm import read_osm_elements, split_elements

    base = read_osm_elements(spark, _osm_path())
    diff = read_osc_elements(spark, ensure_osc_fixture())
    patched_el = apply_osc(base, diff)
    patched = split_elements(patched_el)
    inc = incremental_way_geometries(patched["nodes"], patched["ways"], diff)
    full = assemble_way_geometries(patched["nodes"], patched["ways"])
    aff = inc["affected"]
    # canonical per-way geometry fingerprint (1e-7 integer quantization,
    # exact under the parsers' e7 representation) for the mismatch join
    def fp(df):
        return df.select(
            "id",
            F.hash(
                F.to_json(
                    F.transform(
                        "geom",
                        lambda p: F.struct(
                            F.round(p["lng"] * 1e7).cast("long").alias("x"),
                            F.round(p["lat"] * 1e7).cast("long").alias("y"),
                        ),
                    )
                )
            ).alias("fp"),
        )

    full_aff = full.join(F.broadcast(aff), full["id"] == aff["way_id"]).drop("way_id")
    mismatch = (
        fp(inc["rebuilt"])
        .join(fp(full_aff).withColumnRenamed("fp", "fp2"), "id", "full_outer")
        .filter(
            F.col("fp").isNull() | F.col("fp2").isNull() | (F.col("fp") != F.col("fp2"))
        )
    )
    # census assembly: the frames are changeset-sized (blast radius),
    # so the handful of driver-side aggregates here are O(diff), not
    # O(table) — same pattern as the other golden-census entries.
    aff = aff.localCheckpoint(eager=True)
    rebuilt = inc["rebuilt"].localCheckpoint(eager=True)
    aff_stats = aff.agg(
        F.count(F.lit(1)).alias("n"), F.sum("way_id").alias("s")
    ).collect()[0]
    reb_stats = rebuilt.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size("geom")).alias("v")
    ).collect()[0]
    return spark.range(1).select(
        F.lit(aff_stats["n"]).cast("bigint").alias("n_affected_ways"),
        F.lit(reb_stats["n"]).cast("bigint").alias("n_rebuilt_ways"),
        F.lit(inc["deleted"].count()).cast("bigint").alias("n_deleted_ways"),
        F.lit(mismatch.count()).cast("bigint").alias("n_incremental_vs_full_mismatch"),
        F.lit(patched["nodes"].count()).cast("bigint").alias("patched_nodes"),
        F.lit(patched["ways"].count()).cast("bigint").alias("patched_ways"),
        F.lit(reb_stats["v"]).cast("bigint").alias("sum_rebuilt_vertices"),
        F.lit(aff_stats["s"]).cast("bigint").alias("sum_affected_way_ids"),
    )


# 18 amenity POIs: 16 within 50 m of a street edge, the two placed
# far outside the grid flagged too_far.
_OSM_POI_ORACLE = """
SELECT CAST(18 AS BIGINT) AS n_pois,
       CAST(16 AS BIGINT) AS n_assigned,
       CAST(16 AS BIGINT) AS n_edges_hit,
       CAST(18269888 AS BIGINT) AS sum_pids,
       CAST(2097449271318 AS BIGINT) AS sum_edge_gids
"""


@register("osm_poi_nearest_edge", tags=["J4", "W1"], oracle=_OSM_POI_ORACLE)
def osm_poi_nearest_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POI → nearest routable edge (osm2pgr_pois_update analog,
    README.md:50-54) on the fixture's amenity nodes — grid-bucketed
    spatial join + window top-1, summarized to exact integer counts and
    id checksums for the golden oracle."""
    from ..operators.spatial import assign_pois_to_edges
    from ..operators.topology import build_topology, routable_ways
    from ..sources.osm import read_osm_elements, split_elements

    t = split_elements(read_osm_elements(spark, _osm_path()))
    nodes = t["nodes"]
    edges = build_topology(nodes, routable_ways(t["ways"]))["edges"]
    # POIs = the fixture's tagged amenity nodes
    pois = nodes.filter(F.col("tags").getItem("amenity").isNotNull()).select(
        F.col("id").alias("pid"), F.col("lon").alias("lng"), F.col("lat")
    )
    assigned = assign_pois_to_edges(pois, edges)
    return assigned.agg(
        F.count(F.lit(1)).alias("n_pois"),
        F.count("gid").alias("n_assigned"),
        F.countDistinct("gid").alias("n_edges_hit"),
        F.sum("pid").cast("bigint").alias("sum_pids"),
        F.sum("gid").cast("bigint").alias("sum_edge_gids"),
    )


_OSM_RESTRICTIONS_ORACLE = """
SELECT * FROM (VALUES
  (CAST(3000023 AS BIGINT), 'no_left_turn',    CAST(2000069 AS BIGINT), CAST(1000224 AS BIGINT), CAST(2000735 AS BIGINT)),
  (CAST(3000025 AS BIGINT), 'only_right_turn', CAST(2000232 AS BIGINT), CAST(1000766 AS BIGINT), CAST(2000674 AS BIGINT)),
  (CAST(3000027 AS BIGINT), 'no_right_turn',   CAST(2000334 AS BIGINT), CAST(1001118 AS BIGINT), CAST(2000838 AS BIGINT)),
  (CAST(3000034 AS BIGINT), 'no_u_turn',       CAST(2000139 AS BIGINT), CAST(1000442 AS BIGINT), CAST(2000139 AS BIGINT)),
  (CAST(3000043 AS BIGINT), 'no_u_turn',       CAST(2000355 AS BIGINT), CAST(1001191 AS BIGINT), CAST(2000355 AS BIGINT)),
  (CAST(3000044 AS BIGINT), 'no_straight_on',  CAST(2000276 AS BIGINT), CAST(1000920 AS BIGINT), CAST(2000979 AS BIGINT))
) t(relation_id, restriction, from_way, via_node, to_way)
ORDER BY relation_id
"""


_OSM_ROUTE_MEMBERS_ORACLE = """
SELECT * FROM (VALUES
  (CAST(3000052 AS BIGINT), 'route',        'bus',     '10', CAST(8 AS BIGINT), CAST(13001478 AS BIGINT)),
  (CAST(3000054 AS BIGINT), 'route',        'bus',     '10', CAST(8 AS BIGINT), CAST(13001478 AS BIGINT)),
  (CAST(3000058 AS BIGINT), 'route_master', 'bus',     '10', CAST(2 AS BIGINT), CAST(6000106 AS BIGINT)),
  (CAST(3000066 AS BIGINT), 'route',        'bus',     '20', CAST(7 AS BIGINT), CAST(12005323 AS BIGINT)),
  (CAST(3000068 AS BIGINT), 'route',        'bus',     '20', CAST(7 AS BIGINT), CAST(12005323 AS BIGINT)),
  (CAST(3000074 AS BIGINT), 'route_master', 'bus',     CAST(NULL AS VARCHAR), CAST(2 AS BIGINT), CAST(6000134 AS BIGINT)),
  (CAST(3000076 AS BIGINT), 'route',        'bicycle', '66', CAST(6 AS BIGINT), CAST(11002486 AS BIGINT))
) t(relation_id, relation_type, route_kind, route_ref, n_members, sum_member_refs)
ORDER BY relation_id
"""


@register("osm_route_members", tags=["S6", "P12"], oracle=_OSM_ROUTE_MEMBERS_ORACLE)
def osm_route_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route / route_master relation members (sources/osm.route_members)
    summarized per relation. The oracle is the fixture's 7 transit
    relations (5 routes, 2 route_masters) censused from the XML
    (member counts and exact member-ref checksums)."""
    from ..sources.osm import read_osm_elements, route_members, split_elements

    t = split_elements(read_osm_elements(spark, _osm_path()))
    return (
        route_members(t["relations"])
        .groupBy("relation_id", "relation_type", "route_kind", "route_ref")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("member_ref").cast("bigint").alias("sum_member_refs"),
        )
        .orderBy("relation_id")
    )


@register("osm_turn_restrictions", tags=["S8"], oracle=_OSM_RESTRICTIONS_ORACLE)
def osm_turn_restrictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-restriction relations → restrictions table
    (operators/topology.extract_turn_restrictions). The oracle is the
    fixture's 6 restriction relations censused from the XML — every
    (from, via, to) triple readable in the fixture file."""
    from ..operators.topology import extract_turn_restrictions
    from ..sources.osm import read_osm_elements, split_elements

    t = split_elements(read_osm_elements(spark, _osm_path()))
    return extract_turn_restrictions(t["relations"]).orderBy("relation_id")


_ENRICH_FIXTURE_ORACLE = """
SELECT * FROM (VALUES
  (CAST(0 AS BIGINT), CAST(24 AS BIGINT), CAST(48016230 AS BIGINT), CAST(8737142 AS BIGINT), CAST(24 AS BIGINT)),
  (1, 15, 30008525, 10763439, 15),
  (2, 34, 68022548, 17423260, 34),
  (3, 22, 44015856, 10276071, 22),
  (4, 24, 48011956, 15597010, 24),
  (5, 25, 50018195, 9256250, 25),
  (6, 26, 52015246, 14899736, 26),
  (7, 24, 48016908, 12016412, 24),
  (8, 26, 52018878, 15427368, 26),
  (9, 34, 68021506, 18705824, 34)
) t(g, n_ways, sum_gid, q_greenery, nn_greenery)
ORDER BY g
"""


@register("osm_ways_enrichment_fixture", tags=["E1"], oracle=_ENRICH_FIXTURE_ORACLE)
def osm_ways_enrichment_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship dataflow run end-to-end on the seeded
    OSM fixture (sources/osm_fixture.py + deterministic synthetic
    tiles; `update_ways_metadata.py:122-133` greenery pass):
    highway-way assembly → tile lookup → 21×21 greenery sampling →
    per-way median → global-max normalize. The full pipeline is
    deterministic (integer pixels, exact median, one global divisor),
    so its output is pinned as a golden gid-decile census with the
    metadata quantized at 1e-6 (integer sums — associative, partition-
    order independent); the oracle is that census as computed by the
    pure-Python reference algorithm (tests/osm_census.oracle_enrich).
    Any change to the Mercator
    math, sampling window, median, or normalization flips the hash."""
    from ..operators.enrich import GMAPS_GREENERY_PROVIDER, enrich_ways
    from ..sources.osm import assemble_way_geometries, read_osm_elements, split_elements

    t = split_elements(read_osm_elements(spark, _osm_path()))
    geo = assemble_way_geometries(t["nodes"], t["ways"])
    ways = geo.filter(F.col("tags").getItem("highway").isNotNull()).select(
        F.col("id").alias("gid"), "geom"
    )
    enriched = enrich_ways(spark, ways, [GMAPS_GREENERY_PROVIDER])
    return (
        enriched.groupBy((F.col("gid") % 10).alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n_ways"),
            F.sum("gid").alias("sum_gid"),
            F.sum(F.round(F.col("gmaps_greenery") * 1e6).cast("bigint")).alias(
                "q_greenery"
            ),
            F.count("gmaps_greenery").alias("nn_greenery"),
        )
        .orderBy("g")
    )


@register(
    "trajectory_jaccard_pairs",
    tags=["U4"],
    oracle=f"""
WITH pts AS (
  SELECT user_id,
         CAST(floor(({_EV_LNG}) / 10.0) AS BIGINT) * 1000000
         + CAST(floor(({_EV_LAT}) / 10.0) AS BIGINT) AS cell
  FROM events),
c AS (SELECT DISTINCT user_id, cell FROM pts),
sizes AS (SELECT user_id, count(*) AS n FROM c GROUP BY user_id),
inter AS (
  SELECT a.user_id AS id_a, b.user_id AS id_b, count(*) AS ni
  FROM c a JOIN c b ON a.cell = b.cell AND a.user_id < b.user_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) AS jaccard
FROM inter JOIN sizes sa ON sa.user_id = id_a JOIN sizes sb ON sb.user_id = id_b
WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.6
ORDER BY id_a, id_b
""",
)
def trajectory_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory similarity via grid-cell signature sets (PAPERS.md
    REPOSE pattern; operators/trajectory.py) on the events-derived
    world coordinates — cell math is pure integer arithmetic, so the
    full pipeline is value-hash checked."""
    from ..operators.trajectory import trajectory_jaccard_pairs

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", F.expr(_EV_LNG).alias("lng"), F.expr(_EV_LAT).alias("lat")
    )
    return trajectory_jaccard_pairs(
        pts, "user_id", "lng", "lat", cell_deg=10.0, threshold=0.6
    ).orderBy("id_a", "id_b")


@register(
    "trajectory_topk_similar",
    tags=["U4", "W4"],
    oracle=f"""
WITH pts AS (
  SELECT user_id,
         CAST(floor(({_EV_LNG}) / 10.0) AS BIGINT) * 1000000
         + CAST(floor(({_EV_LAT}) / 10.0) AS BIGINT) AS cell
  FROM events),
c AS (SELECT DISTINCT user_id, cell FROM pts),
sizes AS (SELECT user_id, count(*) AS n FROM c GROUP BY user_id),
inter AS (
  SELECT q.user_id AS q_id, t.user_id AS id, count(*) AS ni
  FROM c q JOIN c t ON q.cell = t.cell AND q.user_id <> t.user_id
  WHERE q.user_id IN (0, 1, 2, 3)
  GROUP BY 1, 2),
scored AS (
  SELECT q_id, id, CAST(ni AS DOUBLE) / (sq.n + st.n - ni) AS jaccard
  FROM inter JOIN sizes sq ON sq.user_id = q_id JOIN sizes st ON st.user_id = id),
ranked AS (
  SELECT q_id, id, jaccard,
         CAST(row_number() OVER (PARTITION BY q_id
                                 ORDER BY jaccard DESC, id) AS BIGINT) AS rank
  FROM scored)
SELECT q_id, id, jaccard, rank FROM ranked WHERE rank <= 5
ORDER BY q_id, rank
""",
)
def trajectory_topk_similar_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k similar trajectories for a fixed query set (REPOSE's query
    shape). Fully hash-checked (r6 verdict #4): jaccard is ONE IEEE
    division of integers — bit-identical across engines — and rank ties
    break on id ascending in both plans."""
    from ..operators.trajectory import trajectory_topk_similar

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", F.expr(_EV_LNG).alias("lng"), F.expr(_EV_LAT).alias("lat")
    )
    return trajectory_topk_similar(
        pts, "user_id", "lng", "lat", query_ids=[0, 1, 2, 3], k=5, cell_deg=10.0
    ).orderBy("q_id", "rank")


# --------------------------------------------------------------------------
# Z-order (Morton) locality key — the lakehouse Z-ORDER layout trick as
# a plain column expression (sources/layout.morton_key): sorting on the
# interleaved tile bits clusters 2-D-near rows into contiguous file
# ranges so bbox scans skip row groups on parquet min/max stats. The
# oracle recomputes the identical bit interleave in DuckDB.
# --------------------------------------------------------------------------

_MORTON_BITS = 12  # zoom-12 tile coords fit 12 bits


def _morton_sql(x: str, y: str, bits: int) -> str:
    terms = [
        f"((({x} >> {i}) & 1) << {2 * i}) + ((({y} >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    ]
    return " + ".join(terms)


@register(
    "geo_zorder_key",
    tags=["P5", "P6", "S10"],
    oracle=f"""
WITH pts AS (
  SELECT event_id, {_EV_LNG} AS lng, {_EV_LAT} AS lat FROM events),
proj AS (
  SELECT event_id,
         256 * (0.5 + lng / 360) AS wx,
         256 * (0.5 - ln((1 + least(greatest(sin(lat * pi() / 180), -0.9999), 0.9999))
                       / (1 - least(greatest(sin(lat * pi() / 180), -0.9999), 0.9999)))
                 / (4 * pi())) AS wy
  FROM pts),
tiles AS (
  SELECT event_id,
         CAST(floor(wx * 4096 / 256) AS BIGINT) AS tile_x,
         CAST(floor(wy * 4096 / 256) AS BIGINT) AS tile_y
  FROM proj)
SELECT event_id, tile_x, tile_y,
       CAST({_morton_sql("tile_x", "tile_y", _MORTON_BITS)} AS BIGINT) AS zkey
FROM tiles
ORDER BY event_id
""",
)
def geo_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.layout import morton_key

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id", F.expr(_EV_LNG).alias("lng"), F.expr(_EV_LAT).alias("lat")
    )
    tx, ty, _, _ = lnglat_to_tile_pixel("lng", "lat", zoom=12)
    return (
        pts.select("event_id", tx.alias("tile_x"), ty.alias("tile_y"))
        .withColumn("zkey", morton_key("tile_x", "tile_y", bits=_MORTON_BITS))
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Routing: the pgRouting query surface the reference's `ways` import
# exists to serve (/root/reference/README.md:41-54). Fixture-census
# oracle (same convention as the other osm_* entries): a pure-Python
# BFS over a dict topology recomputes it in tests/test_osm_fixture.py,
# tests/test_routing.py checks the engine's BFS against the same
# Python BFS, and the haversine-weighted Bellman-Ford variant against a
# Python Dijkstra.
# --------------------------------------------------------------------------

_ROUTE_ORACLE = """
SELECT CAST(103 AS BIGINT) AS n_reached,
       CAST(12 AS INT) AS max_hops,
       CAST(812 AS BIGINT) AS sum_hops,
       CAST(812837263 AS BIGINT) AS id_hop_checksum
"""


# Per-source census for the cost-matrix entry: independent
# plain-Python BFS over the fixture topology, re-derived in
# tests/test_routing.py::test_cost_matrix_census_literals.
_ROUTE_MATRIX_ORACLE = """
SELECT * FROM (VALUES
  (CAST(1000002 AS BIGINT), CAST(76 AS BIGINT), CAST(500 AS BIGINT),
   CAST(500525280 AS BIGINT)),
  (CAST(1000005 AS BIGINT), CAST(85 AS BIGINT), CAST(544 AS BIGINT),
   CAST(544493142 AS BIGINT)),
  (CAST(1000009 AS BIGINT), CAST(95 AS BIGINT), CAST(609 AS BIGINT),
   CAST(609587557 AS BIGINT))
) t(src, n_reached, sum_hops, id_hop_checksum)
ORDER BY src
"""


def _route_edges(spark: SparkSession, osm_path: str) -> DataFrame:
    """The routable (source, target) edges of ``osm_path``, built once:
    the source pick and the searches read this checkpoint instead of
    each re-running ingest → topology, and the ways keep only their id
    and refs, so the topology skips the attribute join."""
    from ..operators.topology import build_topology, routable_ways
    from ..sources.osm import read_osm_elements, split_elements

    t = split_elements(read_osm_elements(spark, osm_path))
    rw = routable_ways(t["ways"]).select("id", "node_refs")
    edges = build_topology(t["nodes"], rw)["edges"]
    return edges.select("source", "target").localCheckpoint(eager=True)


@register("osm_route_cost_matrix", tags=["S8", "A5"], oracle=_ROUTE_MATRIX_ORACLE)
def osm_route_cost_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-to-many reach census (pgr_dijkstraCostMatrix analog): one
    relaxation drives the 3 smallest fixture vertices simultaneously —
    per-source state keyed (src, node), vertex-id shuffle key shared
    across sources (operators/routing.shortest_path_matrix). The VRP/
    logistics query shape the pgRouting import serves."""
    from ..operators.routing import edge_adjacency, shortest_path_matrix

    adj = edge_adjacency(_route_edges(spark, _osm_path()))
    vs = adj.select(F.col("u").alias("v")).distinct()
    srcs = [r.v for r in vs.orderBy("v").limit(3).collect()]
    m = shortest_path_matrix(adj, srcs, max_iter=10)
    return (
        m.groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum("hops").cast("bigint").alias("sum_hops"),
            F.sum(F.col("node_id") * F.col("hops")).cast("bigint").alias(
                "id_hop_checksum"
            ),
        )
        .orderBy("src")
    )


@register("osm_route_bfs_reach", tags=["S8"], oracle=_ROUTE_ORACLE)
def osm_route_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed shortest-path reach (pgr_dijkstra analog, unit
    weights): BFS from the smallest vertex id of the fixture topology,
    bounded at 12 relaxation rounds — summary census of the reached
    set. Frontier relaxation via operators/routing.shortest_paths:
    one vertex-keyed equi-join + min-merge per round, localCheckpointed
    improvement frames (no lineage blowup)."""
    from ..operators.routing import edge_adjacency, shortest_paths

    adj = edge_adjacency(_route_edges(spark, _osm_path()))
    src = adj.agg(F.min("u")).first()[0]
    reached = shortest_paths(adj, [int(src)], max_iter=12)
    return reached.agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.max("hops").alias("max_hops"),
        F.sum("hops").cast("bigint").alias("sum_hops"),
        F.sum(F.col("node_id") * F.col("hops")).cast("bigint").alias("id_hop_checksum"),
    )


_OSM_TAG_FREQ_ORACLE = """
SELECT * FROM (VALUES
  ('building', CAST(425 AS BIGINT)),
  ('addr:housenumber', CAST(353 AS BIGINT)),
  ('addr:street', CAST(353 AS BIGINT)),
  ('highway', CAST(318 AS BIGINT)),
  ('name', CAST(200 AS BIGINT)),
  ('addr:postcode', CAST(147 AS BIGINT)),
  ('source', CAST(83 AS BIGINT)),
  ('created_by', CAST(41 AS BIGINT)),
  ('amenity', CAST(40 AS BIGINT)),
  ('surface', CAST(38 AS BIGINT)),
  ('note', CAST(24 AS BIGINT)),
  ('maxspeed', CAST(23 AS BIGINT))
) t(tag_key, n)
ORDER BY n DESC, tag_key
"""


@register("osm_tag_key_frequency", tags=["P12", "P14"], oracle=_OSM_TAG_FREQ_ORACLE)
def osm_tag_key_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface over the OSM tags (map<string,string>):
    explode(map_keys(tags)) across all three element kinds → frequency
    top-12. The oracle is the fixture's tag census from a plain
    ElementTree pass. Exercises the map-function path (map_keys +
    explode) the style-driven promotion (P12) builds on."""
    from ..sources.osm import read_osm_elements

    els = read_osm_elements(spark, _osm_path())
    return (
        els.filter(F.col("tags").isNotNull())
        .select(F.explode(F.map_keys("tags")).alias("tag_key"))
        .groupBy("tag_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tag_key"))
        .limit(12)
    )


# --------------------------------------------------------------------------
# Point-in-polygon containment join (PostGIS ST_Contains analog, J4) —
# event points classified against literal zone polygons: an axis square
# WITH A HOLE, a concave L-shape, and a triangle. One source of truth
# (_PIP_POLYGONS) generates both the Spark polygon frame and the SQL
# edge VALUES; the oracle applies the even-odd rule over ALL rings of a
# polygon at once (outer + holes), which equals outer-and-not-hole for
# non-overlapping rings. Vertices sit at .005 offsets while the derived
# coordinates live on a .01 grid, so no point can fall exactly on an
# edge (the crossing test's only ambiguous case).
# --------------------------------------------------------------------------

_PIP_POLYGONS: list[tuple[int, list[tuple[float, float]], list[list[tuple[float, float]]]]] = [
    (
        1,  # square with a hole
        [(-50.005, -20.005), (10.005, -20.005), (10.005, 30.005),
         (-50.005, 30.005), (-50.005, -20.005)],
        [[(-20.005, -0.005), (0.005, -0.005), (0.005, 10.005),
          (-20.005, 10.005), (-20.005, -0.005)]],
    ),
    (
        2,  # concave L-shape
        [(-150.005, -60.005), (-100.005, -60.005), (-100.005, -10.005),
         (-125.005, -10.005), (-125.005, -35.005), (-150.005, -35.005),
         (-150.005, -60.005)],
        [],
    ),
    (
        3,  # triangle (non-axis-aligned edges)
        [(-10.005, 40.005), (15.005, 40.005), (2.505, 75.005),
         (-10.005, 40.005)],
        [],
    ),
]


def _pip_edges_sql() -> str:
    rows = []
    for pid, outer, holes in _PIP_POLYGONS:
        for ring in [outer, *holes]:
            for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
                rows.append(f"  ({pid}, {x1}, {y1}, {x2}, {y2})")
    return ",\n".join(rows)


@register(
    "geo_point_in_polygon",
    tags=["J4", "A5", "P14"],
    oracle=f"""
WITH pts AS (
  SELECT event_id, value,
         (value % 360.0) - 180.0 AS lng,
         ((event_id % 1600) / 10.0) - 80.0 AS lat
  FROM events),
edges(poly_id, x1, y1, x2, y2) AS (VALUES
{_pip_edges_sql()}),
parity AS (
  SELECT p.event_id, p.value, e.poly_id, count(*) AS c
  FROM pts p JOIN edges e
    ON ((e.y1 > p.lat) <> (e.y2 > p.lat))
   AND p.lng < e.x1 + (p.lat - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1)
  GROUP BY 1, 2, 3)
SELECT poly_id, count(*) AS n_points,
       CAST(round(sum(CAST(value AS DECIMAL(27,2))), 2) AS DOUBLE) AS total_value
FROM parity WHERE c % 2 = 1
GROUP BY poly_id ORDER BY poly_id
""",
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment join via operators/spatial.points_in_polygons
    (broadcast polygons + bbox prefilter + codegen'd ray-crossing —
    no UDF), aggregated per zone. The oracle classifies the same
    points by even-odd edge-crossing parity over each polygon's full
    ring set — an independent formulation of the same geometry (join
    + GROUP BY parity vs per-row array fold), so a hash match checks
    the math, not the implementation."""
    from ..operators.spatial import points_in_polygons

    pt = "struct<lng:double,lat:double>"
    polys = spark.createDataFrame(
        [
            (
                pid,
                [{"lng": x, "lat": y} for x, y in outer],
                [[{"lng": x, "lat": y} for x, y in h] for h in holes],
            )
            for pid, outer, holes in _PIP_POLYGONS
        ],
        f"poly_id int, geom array<{pt}>, holes array<array<{pt}>>",
    )
    ev = load_table(spark, sf_dir, "events")
    # 2-D spread on purpose: lng from value, lat from event_id — the
    # shared _EV_* derivation puts both on one curve (lat a function of
    # lng), which would leave most zones empty at every SF.
    pts = ev.select(
        F.col("event_id"),
        "value",
        F.expr("(value % 360.0) - 180.0").alias("lng"),
        F.expr("((event_id % 1600) / 10.0) - 80.0").alias("lat"),
    )
    return (
        points_in_polygons(
            pts, polys, point_id="event_id",
            polygons_count_hint=len(_PIP_POLYGONS),
        )
        .groupBy("poly_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            money_sum("value").alias("total_value"),
        )
        .orderBy("poly_id")
    )


# Grid-route twin of geo_point_in_polygon (r13 verdict: the broadcast
# entry's hash never exercises the cell-replicated plan — a census-
# blocks containment join at scale runs exactly that). 28,800 polygons
# (> PIP_BROADCAST_MAX_POLYGONS = 25k) form a regular 288×100 grid of
# holed rectangles generated as pure column math on BOTH sides; margins
# are multiples of 0.25 plus the standing .005 edge offset (derived
# point coordinates live on a .01 grid, so no point can sit on an
# edge). The oracle classifies each point by DIRECT CELL INDEXING
# (floor-divide into its unique candidate polygon, then the margin
# test) — an independent formulation from the engine's replicate-
# into-cells equi-join + bbox + ray-crossing verify.
_PIPG_N_COLS, _PIPG_N_ROWS = 288, 100  # dlng=1.25, dlat=1.5


@register(
    "geo_point_in_polygon_grid",
    tags=["J4", "A5"],
    oracle=f"""
WITH pts AS (
  SELECT event_id, value,
         (value % 360.0) - 180.0 AS lng,
         ((event_id % 1600) / 10.0) - 80.0 AS lat
  FROM events),
cand AS (
  SELECT value, lng, lat,
         CAST(floor((lng + 180.0) / 1.25) AS BIGINT) AS gx,
         CAST(floor((lat + 75.0) / 1.5) AS BIGINT) AS gy
  FROM pts),
hit AS (
  SELECT gy * {_PIPG_N_COLS} + gx AS poly_id, value
  FROM cand
  WHERE gx BETWEEN 0 AND {_PIPG_N_COLS - 1}
    AND gy BETWEEN 0 AND {_PIPG_N_ROWS - 1}
    AND lng > -180.0 + gx * 1.25 + 0.255
    AND lng < -180.0 + gx * 1.25 + 1.005
    AND lat > -75.0 + gy * 1.5 + 0.255
    AND lat < -75.0 + gy * 1.5 + 1.255
    AND NOT (lng > -180.0 + gx * 1.25 + 0.505
         AND lng < -180.0 + gx * 1.25 + 0.755
         AND lat > -75.0 + gy * 1.5 + 0.505
         AND lat < -75.0 + gy * 1.5 + 0.755))
SELECT poly_id, count(*) AS n_points,
       CAST(round(sum(CAST(value AS DECIMAL(27,2))), 2) AS DOUBLE) AS total_value
FROM hit GROUP BY poly_id ORDER BY poly_id
""",
)
def geo_point_in_polygon_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment join through the GRID route of
    operators/spatial.points_in_polygons: the polygon side exceeds
    PIP_BROADCAST_MAX_POLYGONS, so auto-routing replicates polygons
    into grid cells and equi-joins on cell id (the billion-polygon
    physical plan — plan-shape pinned in tests/test_plan_shapes.py).
    Polygons are holed rectangles built from spark.range column math
    (no driver-side row materialization); every margin constant is a
    multiple of 0.25 plus the .005 edge offset, so both engines'
    double arithmetic agrees on strict-inequality membership."""
    from ..operators.spatial import points_in_polygons

    n_cols, n_rows = _PIPG_N_COLS, _PIPG_N_ROWS
    base = spark.range(n_cols * n_rows).select(
        F.col("id").alias("poly_id"),
        (F.lit(-180.0) + (F.col("id") % n_cols).cast("double") * F.lit(1.25)).alias("lng0"),
        (F.lit(-75.0) + F.expr(f"id div {n_cols}").cast("double") * F.lit(1.5)).alias("lat0"),
    )

    def _pt(xe, ye):  # noqa: ANN001 - column helpers
        return F.struct(xe.alias("lng"), ye.alias("lat"))

    lng0, lat0 = F.col("lng0"), F.col("lat0")
    ol, orr = lng0 + F.lit(0.255), lng0 + F.lit(1.005)
    ob, ot = lat0 + F.lit(0.255), lat0 + F.lit(1.255)
    hl, hr = lng0 + F.lit(0.505), lng0 + F.lit(0.755)
    hb, ht = lat0 + F.lit(0.505), lat0 + F.lit(0.755)
    polys = base.select(
        "poly_id",
        F.array(
            _pt(ol, ob), _pt(orr, ob), _pt(orr, ot), _pt(ol, ot), _pt(ol, ob)
        ).alias("geom"),
        F.array(
            F.array(_pt(hl, hb), _pt(hr, hb), _pt(hr, ht), _pt(hl, ht), _pt(hl, hb))
        ).alias("holes"),
    )
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_id"),
        "value",
        F.expr("(value % 360.0) - 180.0").alias("lng"),
        F.expr("((event_id % 1600) / 10.0) - 80.0").alias("lat"),
    )
    return (
        points_in_polygons(
            pts, polys, point_id="event_id",
            polygons_count_hint=n_cols * n_rows,
        )
        .groupBy("poly_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            money_sum("value").alias("total_value"),
        )
        .orderBy("poly_id")
    )


@register(
    "osm_polygon_way_area",
    tags=["P13", "S6"],
    oracle="""
SELECT id, CAST(way_area AS DOUBLE) AS way_area FROM (VALUES
  (-3000009, 118584.8),
  (-3000014, 80843.8),
  (-3000015, 38806.4),
  (-3000004, 29753.8),
  (2001314, 5324.1),
  (2002254, 1940.3),
  (2003338, 1423.0),
  (2003394, 1423.0),
  (2003433, 1423.0),
  (2002062, 1422.9)
) t(id, way_area)
ORDER BY 2 DESC, 1
""",
)
def osm_polygon_way_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """osm2pgsql's ``way_area`` column on the polygon feature table
    (Mercator-plane shoelace, holes subtracted —
    functions/geometry.polygon_area_m2): top-10 fixture polygons by
    area, pinned as a census that a Python shoelace replay recomputes
    (tests/osm_census.ring_area_m2). The top four are the multipolygon
    RELATIONS (osm_id = −relation id; holes subtracted, one inner way
    missing from the file, one outer ring stitched from two open ways),
    so the census covers the relation-assembly path too."""
    from ..sources.osm import (
        assemble_way_geometries,
        derive_feature_tables,
        read_osm_elements,
        split_elements,
    )

    t = split_elements(read_osm_elements(spark, _osm_path()))
    geo = assemble_way_geometries(t["nodes"], t["ways"])
    tables = derive_feature_tables(t["nodes"], geo, relations=t["relations"])
    return (
        tables["polygon"]
        .select("id", F.round("way_area", 1).alias("way_area"))
        .orderBy(F.desc("way_area"), "id")
        .limit(10)
    )


@register(
    "geo_line_simplify",
    tags=["P14", "P2"],
    oracle=f"""
WITH RECURSIVE pts AS (
  SELECT l_orderkey AS gid, l_linenumber AS pos,
         {_LI_LNG} AS lng, {_LI_LAT} AS lat
  FROM lineitem),
ordered AS (
  SELECT gid, lng, lat,
         row_number() OVER (PARTITION BY gid ORDER BY pos, lng, lat) AS rn,
         count(*) OVER (PARTITION BY gid) AS n
  FROM pts),
walk(gid, rn, n, klng, klat, kept, d) AS (
  SELECT gid, rn, n, lng, lat, TRUE, CAST(0.0 AS DOUBLE) FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.gid, o.rn, o.n,
         CASE WHEN k.keep THEN o.lng ELSE w.klng END,
         CASE WHEN k.keep THEN o.lat ELSE w.klat END,
         k.keep,
         CASE WHEN k.keep THEN dd.dist ELSE 0.0 END
  FROM walk w
  JOIN ordered o ON o.gid = w.gid AND o.rn = w.rn + 1,
  LATERAL (SELECT 2 * 6371008.8 * asin(sqrt(
             sin((o.lat - w.klat) * pi() / 180 / 2) ^ 2
             + cos(w.klat * pi() / 180) * cos(o.lat * pi() / 180)
               * sin((o.lng - w.klng) * pi() / 180 / 2) ^ 2)) AS dist) dd,
  LATERAL (SELECT (o.rn = o.n OR dd.dist >= 400.0) AS keep) k)
SELECT gid,
       CAST(max(n) AS INT) AS n_before,
       CAST(count(*) FILTER (WHERE kept) AS INT) AS n_after,
       CAST(sum(CASE WHEN kept THEN d ELSE 0.0 END) AS FLOAT) AS simplified_m
FROM walk
GROUP BY gid
ORDER BY gid
""",
)
def geo_line_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radial-distance line simplification (functions/geometry.
    simplify_radial_m — the ST_Simplify-family generalization step a
    rendering pipeline runs before low zooms) over the synthetic
    lineitem ways: per way, vertex counts before/after at ε = 400 m
    and the simplified length. The oracle replays the SEQUENTIAL
    keep-if-far-from-last-kept recurrence with a recursive-CTE walk
    over ordered vertices (it cannot be a window function — the state
    depends on the last KEPT vertex, not the previous row), using the
    identical haversine; kept-segment distances sum to exactly the
    engine's linestring_length_m over the simplified array."""
    from ..functions.geometry import linestring_length_m, simplify_radial_m

    ways = ways_from_lineitem(spark, sf_dir)
    simp = simplify_radial_m(F.col("geom"), 400.0)
    # Bind the simplified array ONCE: referencing `simp` from size()
    # and from inside linestring_length_m's zip_with would re-run the
    # O(n) fold per reference (CollapseProject keeps the staged bind
    # because the aliased expression is non-cheap and multiply used) —
    # measured 12.3s → 4.7s at sf1.
    return (
        ways.select("gid", F.size("geom").alias("n_before"), simp.alias("__s"))
        .select(
            "gid",
            "n_before",
            F.size("__s").alias("n_after"),
            linestring_length_m(F.col("__s")).cast("float").alias("simplified_m"),
        )
        .orderBy("gid")
    )


# Column list + expected values for the replication census, in ONE
# place: the registered oracle below is template.format(**golden), so
# the SQL column list cannot drift from the census dict. The values
# come from a dict replay of the same changeset
# (tests/test_osm_fixture.py), never from this entry's own output.
_OSM_REPLICATION_ORACLE_TEMPLATE = """
SELECT CAST({n_relations} AS BIGINT) AS n_relations,
       CAST({sum_relation_ids} AS BIGINT) AS sum_relation_ids,
       CAST({n_index_entries} AS BIGINT) AS n_index_entries,
       CAST({idx_mismatch} AS BIGINT) AS idx_mismatch,
       CAST({derived_mismatch} AS BIGINT) AS derived_mismatch,
       CAST({n_derived_ways} AS BIGINT) AS n_derived_ways,
       CAST({sum_derived_pts} AS BIGINT) AS sum_derived_pts,
       CAST({n_derived_rels} AS BIGINT) AS n_derived_rels,
       CAST({sum_derived_members} AS BIGINT) AS sum_derived_members,
       CAST({n_metadata} AS BIGINT) AS n_metadata,
       CAST({metadata_orphans} AS BIGINT) AS metadata_orphans
"""

# The way the combined changeset DELETES (a fixture building no
# relation lists), whose ways_metadata row must cascade out
# (ways_metadata.ddl:6).
OSC_CASCADED_WAY = 2002466


def _replication_census(spark: SparkSession) -> dict:
    """Run the FULL replication pipeline (bootstrap + one combined
    changeset through apply_changeset: way retag, WAY DELETE with
    metadata cascade, relation delete, relation member-shrink,
    relation create) in a fresh unkeyed work directory and census the
    resulting maintained tables plus maintained-vs-from-scratch mismatch counts
    for BOTH reverse indexes and both derived tables, plus the
    ways_metadata FK invariant (ways_metadata.ddl:6 ON DELETE CASCADE:
    orphan count must be 0 and the deleted way's row must be gone)."""
    import os

    from ..operators.merge import ParquetMergeTable
    from ..session import work_dir
    from ..sources.osm import read_osm_elements, split_elements
    from ..sources.osm_diff import node_way_index, read_osc_elements
    from ..streaming.osm_replication import OsmReplicationPipeline

    def derive(geoms):
        return geoms.select("id", F.size("geom").alias("n_pts"))

    def derive_rels(rels):
        return rels.select("id", F.size("members").alias("n_members"))

    root = work_dir()
    meta = ParquetMergeTable(
        spark, f"{root}/ways_metadata", key="gid", n_buckets=4
    )
    pipe = OsmReplicationPipeline(
        spark,
        root,
        derive,
        n_buckets=4,
        derive_relations=derive_rels,
        way_children=[meta],
    )
    p0 = split_elements(read_osm_elements(spark, _osm_path()))
    pipe.bootstrap(p0["nodes"], p0["ways"], relations=p0["relations"])
    # the enrichment CLI's metadata table: one deterministic row
    # per bootstrapped way, FK-child of the ways store
    meta.upsert(
        p0["ways"].select(
            F.col("id").alias("gid"),
            (F.pmod(F.col("id"), F.lit(97)) / 97.0)
            .cast("float")
            .alias("popularity"),
        )
    )
    osc = f"""<osmChange version="0.6">
      <modify>
        <way id="{OSC_RETAGGED_WAY}" version="2">
          <nd ref="{OSC_RETAGGED_WAY_REFS[0]}"/><nd ref="{OSC_RETAGGED_WAY_REFS[1]}"/>
          <tag k="highway" v="tertiary"/>
        </way>
        <relation id="{OSC_RESTRICTION}" version="2">
          <member type="way" ref="{OSC_RETAGGED_WAY}" role="to"/>
          <tag k="type" v="restriction"/>
        </relation>
      </modify>
      <delete>
        <way id="{OSC_CASCADED_WAY}" version="2"/>
        <relation id="{OSC_MULTIPOLYGON}" version="2"/>
      </delete>
      <create>
        <relation id="910000001" version="1">
          <member type="way" ref="{OSC_RETAGGED_WAY}" role=""/>
          <tag k="type" v="route"/>
        </relation>
      </create>
    </osmChange>"""
    p = os.path.join(root, "change.osc")
    with open(p, "w") as f:
        f.write(osc)
    diff = read_osc_elements(spark, p).localCheckpoint(eager=True)
    pipe.apply_changeset(diff, batch_id=1)

    rels = pipe.relations.read().localCheckpoint(eager=True)
    ways = pipe.ways.read()
    # maintained-vs-scratch mismatches, both indexes
    m_nw = {
        (r.id, tuple(r.way_ids)) for r in pipe.node_ways.read().collect()
    }
    s_nw = {
        (r.id, tuple(r.way_ids))
        for r in OsmReplicationPipeline._index_rows(node_way_index(ways)).collect()
    }
    m_mr = {
        (r.id, tuple(r.relation_ids)) for r in pipe.member_rels.read().collect()
    }
    s_mr = {
        (r.id, tuple(r.relation_ids))
        for r in OsmReplicationPipeline._rel_index_rows(
            OsmReplicationPipeline._rel_pairs(rels)
        ).collect()
    }
    idx_mismatch = len(m_nw ^ s_nw) + len(m_mr ^ s_mr)
    # derived-vs-rebuild mismatches, both derived tables
    from ..sources.osm import assemble_way_geometries

    d_w = {(r.id, r.n_pts) for r in pipe.derived.read().collect()}
    want_w = {
        (r.id, r.n_pts)
        for r in derive(
            assemble_way_geometries(pipe.nodes.read(), ways)
        ).collect()
    }
    d_r = {(r.id, r.n_members) for r in pipe.derived_rels.read().collect()}
    want_r = {(r.id, r.n_members) for r in derive_rels(rels).collect()}
    derived_mismatch = len(d_w ^ want_w) + len(d_r ^ want_r)
    rel_stats = rels.agg(
        F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
    ).collect()[0]
    # FK invariant after the cascade: the deleted way's metadata
    # row is gone and no metadata gid references an absent way
    meta_rows = meta.read()
    orphans = (
        meta_rows.join(ways.select(F.col("id").alias("gid")), "gid", "left_anti")
        .count()
    )
    orphans += meta_rows.filter(F.col("gid") == OSC_CASCADED_WAY).count()
    return {
        "n_relations": rel_stats["n"],
        "sum_relation_ids": int(rel_stats["s"]),
        "n_index_entries": len(m_nw) + len(m_mr),
        "idx_mismatch": idx_mismatch,
        "derived_mismatch": derived_mismatch,
        "n_derived_ways": len(d_w),
        "sum_derived_pts": sum(p for _, p in d_w),
        "n_derived_rels": len(d_r),
        "sum_derived_members": sum(m for _, m in d_r),
        "n_metadata": meta_rows.count(),
        "metadata_orphans": orphans,
    }


# Golden census for the full replication pipeline run (fixture
# bootstrap + one combined changeset, including the cascaded way
# delete). idx_mismatch / derived_mismatch are maintained-vs-from-
# scratch set differences and metadata_orphans is the FK violation
# count — all MUST be 0; any staleness in either reverse index, either
# derived table, or the ways_metadata cascade flips the hash. The
# remaining values census the final stores.
_OSM_REPLICATION_GOLDEN = {
    "n_relations": 17,
    "sum_relation_ids": 958000683,
    "n_index_entries": 3065,
    "idx_mismatch": 0,
    "derived_mismatch": 0,
    "n_derived_ways": 708,
    "sum_derived_pts": 4086,
    "n_derived_rels": 17,
    "sum_derived_members": 64,
    "n_metadata": 708,
    "metadata_orphans": 0,
}
_OSM_REPLICATION_ORACLE = _OSM_REPLICATION_ORACLE_TEMPLATE.format(
    **_OSM_REPLICATION_GOLDEN
)


@register(
    "osm_replication_pipeline_parity",
    tags=["S7", "T6", "S4", "J1"],
    oracle=_OSM_REPLICATION_ORACLE,
)
def osm_replication_pipeline_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL replication pipeline under the driver hash
    (streaming/osm_replication.py): bootstrap the four element/index/
    derived stores from the fixture, apply one combined changeset (way
    retag shrinking its vertex list, way DELETE cascading into the
    gid-keyed ways_metadata FK child — ways_metadata.ddl:6 ON DELETE
    CASCADE — relation member-shrink, relation delete, relation
    create) through apply_changeset's bucket-pruned O(diff + blast
    radius) path, then census the result — INCLUDING maintained-vs-
    from-scratch mismatch counts for BOTH reverse indexes (node→ways,
    member→relations) and BOTH derived tables, and the metadata orphan
    count, all of which must be 0 for the hash to pass. Replaces trust
    in the incremental machinery with a value check of its fixpoint."""
    c = _replication_census(spark)
    return spark.range(1).select(
        *[F.lit(v).cast("bigint").alias(k) for k, v in c.items()]
    )
