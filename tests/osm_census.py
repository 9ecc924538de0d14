"""Plain-Python census and replays of an OSM XML file, independent of
the engine: ElementTree parsing, a dict-based topology split, BFS,
haversine lengths, Mercator shoelace areas, POI nearest-edge search,
OsmChange replay and the reference's enrichment algorithm.

Tests compare the engine against these, and
``tests/test_osm_fixture.py`` recomputes every literal ``osm_*`` oracle
of ``plans/geo_queries.py`` from them. Nothing here imports the engine's
ingest, topology, diff or routing code; the only package imports are
data (the synthetic tile pixels, the stock style and mapconfig texts).
"""

from __future__ import annotations

import math
import xml.etree.ElementTree as ET
from collections import Counter, defaultdict, deque
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

EARTH_RADIUS_M = 6371008.8
MERC_R = 6378137.0
ONEWAY = ("yes", "true", "1")
ROADS = ("motorway", "trunk", "primary", "secondary", "tertiary", "residential")


def round_half_up(x: float, digits: int = 0) -> float:
    """Spark's ``round`` on a double: HALF_UP on the shortest decimal
    form of the value."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP))


# --------------------------------------------------------------- parsing

def _coord(v: str) -> float:
    # the readers keep coordinates as integer 1e-7 degrees
    return int(round(float(v) * 1e7)) / 1e7


def _tags(el) -> dict[str, str]:
    return {t.get("k"): t.get("v") for t in el if t.tag == "tag"}


@dataclass
class Doc:
    """nodes: id → (lat, lon, tags); ways: id → (refs, tags);
    relations: id → ([(type, ref, role)], tags)."""

    nodes: dict[int, tuple[float, float, dict]] = field(default_factory=dict)
    ways: dict[int, tuple[list[int], dict]] = field(default_factory=dict)
    relations: dict[int, tuple[list[tuple[str, int, str]], dict]] = field(
        default_factory=dict
    )

    def add(self, el) -> None:
        eid = int(el.get("id"))
        if el.tag == "node":
            self.nodes[eid] = (_coord(el.get("lat")), _coord(el.get("lon")), _tags(el))
        elif el.tag == "way":
            self.ways[eid] = ([int(nd.get("ref")) for nd in el if nd.tag == "nd"], _tags(el))
        elif el.tag == "relation":
            members = [
                (m.get("type"), int(m.get("ref")), m.get("role", ""))
                for m in el
                if m.tag == "member"
            ]
            self.relations[eid] = (members, _tags(el))

    def geom(self, refs: list[int]) -> list[tuple[float, float]]:
        """(lng, lat) vertices of the refs present in the file."""
        return [(self.nodes[r][1], self.nodes[r][0]) for r in refs if r in self.nodes]

    def all_tags(self):
        for kind in (self.nodes, self.ways, self.relations):
            for v in kind.values():
                yield v[-1]


def parse(path: str) -> Doc:
    doc = Doc()
    for el in ET.parse(path).getroot():
        if el.tag in ("node", "way", "relation"):
            doc.add(el)
    return doc


def parse_osc(text: str) -> list[tuple[str, object]]:
    """OsmChange text → [(op, element)] in document order."""
    return [(sec.tag, el) for sec in ET.fromstring(text) for el in sec]


def apply_osc(doc: Doc, text: str) -> tuple[Doc, dict[tuple[str, int], str]]:
    """The changeset's net effect (last op per (kind, id) wins) applied
    to a copy of ``doc`` → (patched doc, {(kind, id): net op})."""
    net: dict[tuple[str, int], tuple[str, object]] = {}
    for op, el in parse_osc(text):
        net[(el.tag, int(el.get("id")))] = (op, el)
    out = Doc(dict(doc.nodes), dict(doc.ways), dict(doc.relations))
    table = {"node": out.nodes, "way": out.ways, "relation": out.relations}
    for (kind, eid), (op, el) in net.items():
        table[kind].pop(eid, None)
        if op != "delete":
            out.add(el)
    return out, {k: op for k, (op, _) in net.items()}


# ------------------------------------------------------ feature tables

def is_closed(refs: list[int]) -> bool:
    return len(refs) >= 4 and refs[0] == refs[-1]


def _chain(ways: list[list[tuple]]) -> list[list[tuple]]:
    """Member ways chained end to end into closed rings; ring sets that
    do not close are dropped."""
    rings, unused = [], [list(w) for w in ways if len(w) >= 2]
    while unused:
        ring = unused.pop(0)
        while ring[0] != ring[-1]:
            for i, w in enumerate(unused):
                if w[0] == ring[-1]:
                    ring += w[1:]
                elif w[-1] == ring[-1]:
                    ring += w[-2::-1]
                else:
                    continue
                unused.pop(i)
                break
            else:
                ring = None
                break
        if ring is not None and len(ring) >= 4:
            rings.append(ring)
    return rings


def multipolygons(doc: Doc) -> dict[int, tuple[list, list]]:
    """relation id → (outer ring, [hole rings]) for every multipolygon
    relation with one outer ring (the fixture has no multi-outer
    relation; one would need the hole-attachment rule)."""
    out = {}
    for rid, (members, tags) in doc.relations.items():
        if tags.get("type") != "multipolygon":
            continue
        by_role = {"outer": [], "inner": []}
        for mtype, ref, role in members:
            if mtype == "way" and role in by_role and ref in doc.ways:
                g = doc.geom(doc.ways[ref][0])
                if g:
                    by_role[role].append(g)
        outers = _chain(by_role["outer"])
        if not outers:
            continue
        assert len(outers) == 1, f"relation {rid}: {len(outers)} outer rings"
        out[rid] = (outers[0], _chain(by_role["inner"]))
    return out


def feature_counts(doc: Doc, deleted=frozenset(), poly_keys=None) -> dict[str, int]:
    """planet_osm_* row counts. ``poly_keys=None``: the key-list style
    (point = tagged node, polygon = closed tagged way); else osm2pgsql
    flag semantics with ``deleted`` keys dropped and a closed way a
    polygon iff area=yes or (a polygon key and area != no)."""
    point = sum(
        1 for _, _, t in doc.nodes.values() if set(t) - set(deleted)
    )
    polygon = 0
    for refs, t in doc.ways.values():
        if not is_closed(refs) or not set(t) - set(deleted):
            continue
        if poly_keys is None:
            polygon += 1
        elif t.get("area") == "yes" or (set(poly_keys) & set(t) and t.get("area") != "no"):
            polygon += 1
    roads = sum(
        1 for _, t in doc.ways.values()
        if t.get("highway") in ROADS or "railway" in t
    )
    return {
        "line": len(doc.ways),
        "point": point,
        "polygon": polygon + len(multipolygons(doc)),
        "roads": roads,
    }


def mercator(lng: float, lat: float) -> tuple[float, float]:
    return (
        lng * (math.pi * MERC_R / 180.0),
        math.log(math.tan(math.pi / 4.0 + lat * (math.pi / 360.0))) * MERC_R,
    )


def ring_area_m2(ring) -> float:
    """Mercator-plane shoelace area of a closed (lng, lat) ring."""
    pts = [mercator(x, y) for x, y in ring]
    s = 0.0
    for (x1, y1), (x2, y2) in zip(pts, pts[1:]):
        s += x1 * y2 - x2 * y1
    return abs(s) / 2.0


def polygon_areas(doc: Doc) -> dict[int, float]:
    """Key-list style polygon table: id → way_area (relations as
    −relation_id, holes subtracted)."""
    out = {
        wid: ring_area_m2(doc.geom(refs))
        for wid, (refs, t) in doc.ways.items()
        if is_closed(refs) and t
    }
    for rid, (outer, holes) in multipolygons(doc).items():
        out[-rid] = ring_area_m2(outer) - sum(ring_area_m2(h) for h in holes)
    return out


# ------------------------------------------------------------- topology

@dataclass(frozen=True)
class Edge:
    gid: int
    way_id: int
    seg: int
    source: int
    target: int
    geom: tuple
    tags: dict = field(hash=False, compare=False)


def has_highway(tags: dict) -> bool:
    return "highway" in tags


def topology(doc: Doc, routable=has_highway) -> list[Edge]:
    """Ways split at every node that occurs more than once among the
    routable ways' refs, and at way ends; gid = way_id·2¹⁶ + segment."""
    ways = {wid: (refs, t) for wid, (refs, t) in doc.ways.items() if routable(t)}
    occ = Counter(n for refs, _ in ways.values() for n in refs)
    edges = []
    for wid, (refs, tags) in ways.items():
        segs: dict[int, list[int]] = defaultdict(list)
        seg = 0
        for pos, nid in enumerate(refs):
            split = occ[nid] > 1 or pos == 0 or pos == len(refs) - 1
            if split and pos > 0:
                segs[seg].append(nid)
                seg += 1
            segs[seg].append(nid)
        for s, nids in segs.items():
            nids = [n for n in nids if n in doc.nodes]
            if len(nids) >= 2:
                edges.append(Edge(wid * 65536 + s, wid, s, nids[0], nids[-1],
                                  tuple(doc.geom(nids)), tags))
    return edges


def haversine_m(a, b) -> float:
    """Exact float-op mirror of functions.geo.haversine_m."""
    (lng1, lat1), (lng2, lat2) = a, b
    rad = math.pi / 180.0
    dlat = (lat2 - lat1) * rad
    dlng = (lng2 - lng1) * rad
    h = (
        math.sin(dlat / 2) ** 2
        + math.cos(lat1 * rad) * math.cos(lat2 * rad) * math.sin(dlng / 2) ** 2
    )
    return 2.0 * EARTH_RADIUS_M * math.asin(math.sqrt(h))


def length_m(geom) -> float:
    acc = 0.0
    for a, b in zip(geom, geom[1:]):
        acc += haversine_m(a, b)
    return acc


def graph(pairs) -> dict[int, list[int]]:
    """Undirected adjacency of (source, target) pairs."""
    g = defaultdict(list)
    for a, b in pairs:
        g[a].append(b)
        g[b].append(a)
    return g


def bfs(g: dict[int, list[int]], src: int, max_hops: int) -> dict[int, int]:
    dist = {src: 0}
    dq = deque([src])
    while dq:
        u = dq.popleft()
        for v in g[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    return {k: v for k, v in dist.items() if v <= max_hops}


def reach_census(reached: dict[int, int]) -> tuple[int, int, int]:
    """(n_reached, sum_hops, Σ node_id·hops)."""
    return len(reached), sum(reached.values()), sum(k * v for k, v in reached.items())


# -------------------------------------------------------------- mapconfig

@dataclass(frozen=True)
class ClassRow:
    key: str
    value: str
    tag_id: int
    priority: float
    forward_kmh: float
    backward_kmh: float


def mapconfig_rows(xml: str) -> list[ClassRow]:
    """osm2pgrouting mapconfig text → class rows in document order
    (priority defaults to 1.0 and maxspeed to 50)."""
    rows = []
    for tn in ET.fromstring(xml).iter("tag_name"):
        for tv in tn.iter("tag_value"):
            speed = float(tv.get("maxspeed", 50))
            rows.append(ClassRow(
                tn.get("name"), tv.get("name"), int(tv.get("id")),
                float(tv.get("priority", 1.0)),
                float(tv.get("maxspeed_forward") or speed),
                float(tv.get("maxspeed_backward") or speed),
            ))
    return rows


def first_class(rows: list[ClassRow], tags: dict) -> ClassRow | None:
    return next((r for r in rows if tags.get(r.key) == r.value), None)


def mapconfig_census(doc: Doc, xml: str) -> tuple:
    """(n_edges, n_ways, n_classes, sum_tag_ids, total_length_m,
    total_cost_s, n_oneway_edges, total_weighted_cost) of the import
    under one mapconfig, float sums rounded to 0.1 and cast to f32."""
    rows = mapconfig_rows(xml)
    edges = topology(doc, lambda t: first_class(rows, t) is not None)
    length = cost = weighted = 0.0
    ids, oneway = [], 0
    for e in edges:
        c = first_class(rows, e.tags)
        m = length_m(e.geom)
        s = m / (c.forward_kmh / 3.6)
        length += m
        cost += s
        weighted += s * c.priority
        ids.append(c.tag_id)
        oneway += e.tags.get("oneway") in ONEWAY
    f32 = lambda x: float(np.float32(round_half_up(x, 1)))  # noqa: E731
    return (len(edges), len({e.way_id for e in edges}), len(set(ids)), sum(ids),
            f32(length), f32(cost), oneway, f32(weighted))


# -------------------------------------------------------------------- POIs

_DEG_M = 111194.9


def _point_segment_dist_m(plng, plat, alng, alat, blng, blat) -> float:
    """Float-op mirror of operators.spatial._point_segment_dist_m."""
    kx = math.cos(plat * math.pi / 180.0) * _DEG_M
    ky = _DEG_M
    ax, ay = (alng - plng) * kx, (alat - plat) * ky
    bx, by = (blng - plng) * kx, (blat - plat) * ky
    dx, dy = bx - ax, by - ay
    seg_len2 = dx * dx + dy * dy
    t = -(ax * dx + ay * dy) / seg_len2 if seg_len2 > 0 else 0.0
    t = min(max(t, 0.0), 1.0)
    cx, cy = ax + t * dx, ay + t * dy
    return math.sqrt(cx * cx + cy * cy)


def nearest_edges(pois, edges, within_m: float = 50.0) -> dict[int, int | None]:
    """POI id → gid of the nearest edge within ``within_m`` (ties →
    lowest gid), or None."""
    out = {}
    for pid, lng, lat in pois:
        best = None
        for e in edges:
            d = min(
                _point_segment_dist_m(lng, lat, a[0], a[1], b[0], b[1])
                for a, b in zip(e.geom, e.geom[1:])
            )
            if d <= within_m and (best is None or (d, e.gid) < best):
                best = (d, e.gid)
        out[pid] = None if best is None else best[1]
    return out


# -------------------------------------------------------------- enrichment

def _project(lng, lat, tile_size):
    siny = math.sin(lat * math.pi / 180)
    siny = min(max(siny, -0.9999), 0.9999)
    return (
        tile_size * (0.5 + lng / 360),
        tile_size * (0.5 - math.log((1 + siny) / (1 - siny)) / (4 * math.pi)),
    )


def _to_xyz(wx, wy, zoom, tile_size):
    scale = 1 << zoom
    return (
        int(math.floor(wx * scale / tile_size)),
        int(math.floor(wy * scale / tile_size)),
        int(math.floor(wx * scale % tile_size)),
        int(math.floor(wy * scale % tile_size)),
    )


def oracle_enrich(ways, provider) -> dict[int, float]:
    """The reference's per-way algorithm, literally: sample every
    vertex's pixel (or 21×21 greenery window) from the closed-form
    synthetic tiles, take the numpy median per way, divide by the
    global max."""
    from ariadne_cartograph_spark.sources.tiles import synth_tile_array

    tiles = {}
    out = {}
    max_observed = 0
    for gid, coords in ways:
        values = []
        for lng, lat in coords:
            wx, wy = _project(lng, lat, provider.tile_size)
            x, y, px, py = _to_xyz(wx, wy, provider.zoom, provider.tile_size)
            if (x, y) not in tiles:
                tiles[(x, y)] = synth_tile_array(
                    x, y, provider.zoom, provider.mode, provider.tile_size
                )
            arr = tiles[(x, y)]
            if provider.value_kind == "gray":
                values.append(float(arr[py, px]) / 255)
            else:  # greenery_abs
                x0, y0 = max(0, px - 10), max(0, py - 10)
                x1, y1 = min(provider.tile_size, px + 10), min(provider.tile_size, py + 10)
                crop = arr[y0:y1, x0:x1].astype(np.int64)
                r, g, b = crop[..., 0], crop[..., 1], crop[..., 2]
                values.append(float(np.clip(np.minimum(g - r, g - b), 0, 1).mean()))
        med = float(np.median(values))
        max_observed = max(max_observed, med)
        out[gid] = med
    return {k: v / max_observed for k, v in out.items()}
