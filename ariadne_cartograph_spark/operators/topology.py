"""Routable-topology builder (SURVEY.md §2.6 topology / §2.1 S8) — the
engine's analog of osm2pgrouting's `--addnodes` import
(`/root/reference/README.md:44`): split ways at shared interior
vertices so every edge runs intersection→intersection, emit `ways`
edges + vertices.

Pure windows + aggregation (SURVEY.md's plan), one shuffle per key: a
window on node_id counts each node's occurrences and fetches its
coordinates → intersection nodes → a window on way_id gives the running
segment id → re-collect per (way, segment) on that same partitioning.
No graph library, no join — scales like any wide agg.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

if TYPE_CHECKING:
    from ..sources.mapconfig import MapConfig


def routable_ways(
    ways: DataFrame,
    highway_filter: bool = True,
    config: "MapConfig | None" = None,
) -> DataFrame:
    """Filter to routable ways.

    With ``config`` (a parsed osm2pgrouting ``mapconfig.xml``,
    `/root/reference/README.md:44` — see ``sources/mapconfig.py``), a
    way is routable iff some configured (tag key, value) pair matches —
    osm2pgrouting's has_class semantics, so a rail-only or
    pedestrian-only import profile is a config file, not a code change.
    Without one, the legacy default keeps any highway-tagged way (a
    superset of the stock profile: unknown highway values pass).
    Either branch is a pure column predicate on the tags map — it
    rides the scan filter, no shuffle."""
    if config is not None:
        return ways.filter(config.matches("tags"))
    if not highway_filter:
        return ways
    return ways.filter(F.col("tags").getItem("highway").isNotNull())


def extract_turn_restrictions(relations: DataFrame) -> DataFrame:
    """Turn-restriction relations → a restrictions table keyed to the
    topology's ways — the `--attributes --tags` part of the
    osm2pgrouting import (`/root/reference/README.md:44`) that routing
    engines consume alongside the edge table.

    Each `type=restriction` relation carries (from way, via node,
    to way) members plus the restriction kind tag (no_left_turn,
    no_u_turn, only_right_turn, …). Pure column expressions — a filter
    plus array lookups over the members list, no shuffle; joins to
    edges on osm_way_id downstream."""
    r = relations.filter(F.col("tags").getItem("type") == "restriction")

    def member(mtype: str, role: str):
        return F.element_at(
            F.filter(
                "members",
                lambda m: (m["member_type"] == mtype) & (m["role"] == role),
            ),
            1,
        )["ref"]

    return r.select(
        F.col("id").alias("relation_id"),
        F.col("tags").getItem("restriction").alias("restriction"),
        member("way", "from").alias("from_way"),
        member("node", "via").alias("via_node"),
        member("way", "to").alias("to_way"),
    )


# osm2pgrouting-style default speeds per highway class (km/h) — the
# mapconfig.xml convention: cost is travel TIME, not length, so edge
# weights reflect the way class the enrichment pipeline annotates.
DEFAULT_SPEEDS_KMH: dict[str, float] = {
    "motorway": 110.0, "motorway_link": 60.0,
    "trunk": 90.0, "trunk_link": 50.0,
    "primary": 60.0, "primary_link": 40.0,
    "secondary": 50.0, "secondary_link": 35.0,
    "tertiary": 40.0, "tertiary_link": 30.0,
    "residential": 30.0, "living_street": 10.0,
    "unclassified": 30.0, "service": 20.0, "track": 15.0,
    "cycleway": 15.0, "footway": 5.0, "path": 5.0, "pedestrian": 5.0,
    "steps": 2.0,
}


def edge_costs(
    edges: DataFrame,
    speeds_kmh: dict[str, float] | None = None,
    default_kmh: float = 40.0,
    config: "MapConfig | None" = None,
    use_way_maxspeed: bool = False,
) -> DataFrame:
    """Append osm2pgrouting-style cost columns to an attributed edge
    table (requires the highway/oneway columns + tags map
    :func:`build_topology` carries): ``length_m``, ``cost_s`` =
    seconds at the class speed, and ``reverse_cost_s`` = cost_s, or
    ``-1`` (non-traversable, the pgRouting convention) when the way is
    oneway. Pure column math — a literal speed lookup, no joins.

    With ``config``, speeds / class ids / priorities come from the
    parsed mapconfig.xml instead of the built-in table: forward cost
    uses the class's ``maxspeed_forward`` (falling back to
    ``maxspeed``), reverse cost ``maxspeed_backward``, and the edge
    additionally carries ``tag_id`` + ``class_priority`` — the
    columns osm2pgrouting's ways table gets from the configuration.

    ``use_way_maxspeed=True`` additionally honors the way's own OSM
    ``maxspeed=*`` tag (with ``maxspeed:forward``/``:backward``
    per-direction variants taking precedence; mph converted, junk
    values ignored) over the class default — what osm2pgrouting does
    at import time. Opt-in so the pure class-table cost model stays
    the reproducible default."""
    from ..functions.geometry import linestring_length_m

    length = linestring_length_m("geom")
    oneway_fwd = F.col("oneway").isin("yes", "true", "1")
    if config is not None:
        fwd_kmh = F.coalesce(
            config.speed_forward_kmh("tags"), F.lit(float(default_kmh))
        )
        bwd_kmh = F.coalesce(
            config.speed_backward_kmh("tags"), F.lit(float(default_kmh))
        )
        if use_way_maxspeed:
            from ..sources.mapconfig import way_maxspeed_kmh

            t = F.col("tags")
            fwd_kmh = F.coalesce(
                way_maxspeed_kmh(
                    F.coalesce(t.getItem("maxspeed:forward"), t.getItem("maxspeed"))
                ),
                fwd_kmh,
            )
            bwd_kmh = F.coalesce(
                way_maxspeed_kmh(
                    F.coalesce(t.getItem("maxspeed:backward"), t.getItem("maxspeed"))
                ),
                bwd_kmh,
            )
        return (
            edges.withColumn("length_m", length)
            .withColumn("tag_id", config.tag_id("tags"))
            .withColumn("class_priority", config.priority("tags"))
            .withColumn("cost_s", F.col("length_m") / (fwd_kmh / 3.6))
            .withColumn(
                "reverse_cost_s",
                F.when(oneway_fwd, F.lit(-1.0)).otherwise(
                    F.col("length_m") / (bwd_kmh / 3.6)
                ),
            )
        )
    speeds = speeds_kmh or DEFAULT_SPEEDS_KMH
    speed_map = F.create_map(
        *[F.lit(x) for kv in speeds.items() for x in kv]
    )
    kmh = F.coalesce(
        F.element_at(speed_map, F.col("highway")), F.lit(float(default_kmh))
    )
    cost = length / (kmh / 3.6)
    return (
        edges.withColumn("length_m", length)
        .withColumn("cost_s", cost)
        .withColumn(
            "reverse_cost_s",
            F.when(oneway_fwd, F.lit(-1.0)).otherwise(F.col("cost_s")),
        )
    )


def build_topology(nodes: DataFrame, ways: DataFrame) -> dict[str, DataFrame]:
    """→ {edges, vertices}.

    edges: gid (dense id), osm_way_id, source, target (vertex node
    ids), geom (array<struct<lng,lat>>), plus way attributes carried
    over — the `--attributes --tags` part of the osm2pgrouting import
    (`/root/reference/README.md:44`): promoted highway / name / oneway
    columns and the full tags map (when the input carries tags), so
    routing cost models (see :func:`edge_costs`) have the way class on
    every edge. The attribute join keys on way_id — the same key the
    segment aggregation just shuffled on, so it co-locates.
    A node is a split point if it appears in >1 way or >1 time in one
    way (self-intersection), or is a way endpoint. The split takes two
    shuffles: a node_id window over refs ∪ node rows gives each ref its
    occurrence count and its node's points (as an inner join would:
    none if the node is absent, one per row if it is repeated); a
    way_id window gives the running segment id, and the segment collect
    rides it.
    """
    refs = ways.select(
        F.col("id").alias("way_id"),
        F.size("node_refs").alias("n_refs"),
        F.posexplode("node_refs").alias("pos", "node_id"),
    )
    node_pts = nodes.select(
        F.col("id").alias("node_id"),
        F.struct(F.col("lon").alias("lng"), F.col("lat").alias("lat")).alias("pt"),
    )
    by_node = W.partitionBy("node_id")
    marked = (
        refs.unionByName(node_pts, allowMissingColumns=True)
        .filter(F.col("node_id").isNotNull())
        .select(
            "way_id", "n_refs", "pos", "node_id",
            F.count("pos").over(by_node).alias("n_occ"),
            F.collect_list("pt").over(by_node).alias("pts"),
        )
        .filter(F.col("pos").isNotNull())
    )
    # running segment id per way: a split vertex closes one segment and
    # opens the next, so it is exploded into both (seg_id - 1, seg_id).
    # A ref to an absent node still splits; its row drops out only at
    # the explode of its (empty) points, after the segment ids are set.
    closes = ((F.col("n_occ") > 1) | (F.col("pos") == F.col("n_refs") - 1)) & (F.col("pos") > 0)
    w_ord = W.partitionBy("way_id").orderBy("pos").rowsBetween(W.unboundedPreceding, W.currentRow)
    seg = F.col("seg_id")
    pts = (
        marked.withColumn("seg_id", F.sum(F.when(closes, 1).otherwise(0)).over(w_ord))
        .withColumn("seg_id", F.explode(F.when(closes, F.array(seg - 1, seg)).otherwise(F.array(seg))))
        .select("way_id", "seg_id", "pos", "node_id", F.explode("pts").alias("pt"))
    )
    edges = (
        pts.groupBy("way_id", "seg_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "pt", "node_id"))),
                lambda s: F.struct(s["pt"].alias("pt"), s["node_id"].alias("node_id")),
            ).alias("seq")
        )
        .filter(F.size("seq") >= 2)
        .select(
            F.col("way_id").alias("osm_way_id"),
            F.col("seg_id"),
            F.col("seq")[0]["node_id"].alias("source"),
            F.element_at("seq", -1)["node_id"].alias("target"),
            F.transform("seq", lambda s: s["pt"]).alias("geom"),
        )
    )
    # Deterministic gid derived from the natural key: osm2pgrouting
    # assigns a serial, but a global row_number would be a
    # single-partition sort at scale; key-derived ids are stable,
    # shuffle-free, and unique (seg_id < 2^16: ways have ≤ ~140
    # vertices; OSM way ids < 2^47).
    edges = edges.withColumn(
        "gid",
        (F.col("osm_way_id") * F.lit(65536) + F.col("seg_id")).cast("long"),
    ).select("gid", "osm_way_id", "seg_id", "source", "target", "geom")
    if "tags" in ways.columns:
        attrs = ways.select(
            F.col("id").alias("__w_id"),
            F.col("tags").getItem("highway").alias("highway"),
            F.col("tags").getItem("name").alias("name"),
            F.col("tags").getItem("oneway").alias("oneway"),
            F.col("tags"),
        )
        edges = edges.join(
            attrs, edges["osm_way_id"] == attrs["__w_id"], "left"
        ).drop("__w_id")
    # Vertex bookkeeping columns mirroring osm2pgrouting's
    # ways_vertices_pgr (`/root/reference/README.md:44,48`): ``cnt`` =
    # incident edge count, ``ein``/``eout`` = directed in/out degree
    # under the oneway attribute (a non-oneway edge counts both ways),
    # ``chk`` = pgr_analyzeGraph's problem flag, here its cheap exact
    # subset: 1 for degree-1 dead ends (the candidate set the analyzer
    # inspects), 0 otherwise — the geometric near-miss refinement is a
    # PostGIS-side pass out of scope for the import itself. All three
    # are one groupBy over the edge endpoints (map-side combinable).
    oneway = (
        F.col("oneway").isin("yes", "true", "1")
        if "tags" in ways.columns
        else F.lit(False)
    )
    endpoint_stats = (
        edges.select(
            F.col("source").alias("node_id"),
            F.lit(1).alias("n_out"),
            F.when(oneway, 0).otherwise(1).alias("n_in"),
        )
        .unionAll(
            edges.select(
                F.col("target"),
                F.when(oneway, 0).otherwise(1),
                F.lit(1),
            )
        )
        .groupBy("node_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("n_in").cast("long").alias("ein"),
            F.sum("n_out").cast("long").alias("eout"),
        )
    )
    vertices = (
        endpoint_stats
        .join(nodes.select(F.col("id").alias("node_id"), "lon", "lat"), "node_id")
        .withColumn("chk", F.when(F.col("cnt") == 1, 1).otherwise(0))
        .select("node_id", "lon", "lat", "cnt", "chk", "ein", "eout")
    )
    return {"edges": edges, "vertices": vertices}
