"""The repository's own OSM fixture: a seeded OSM API 0.6 XML document
that every ``osm_*`` catalog entry and every OSM property test reads.

One seed, one file: :func:`generate` returns the same bytes on every
host, and :func:`ensure_osm_fixture` writes them once under the temp
directory in a file whose name carries a digest of the bytes, so every
cache keyed on the file's (name, size, mtime) — the PBF transcode, the
tag-index layout — can never serve a copy derived from other bytes.
Nothing here runs at import time.

The document is a street lattice of ``_GRID`` × ``_GRID``
intersections with this element mix:

- nodes: intersections (some tagged ``traffic_signals``/``crossing``,
  some ``bus_stop``), one shape point per block edge, building and
  area corners, standalone amenity POIs no way references (two far
  outside the street grid), and standalone survey points tagged only
  with ``source``/``created_by``/``note`` (keys the stock osm2pgsql
  style deletes);
- open ``highway`` ways: every street is split into ways of 2–5
  blocks, so intersections are shared interior nodes; streets carry
  residential, tertiary, secondary, primary, service, unclassified and
  living_street classes, some ``oneway=yes``, some ``maxspeed="NN
  mph"``, most named; footway, path, steps, pedestrian and cycleway
  stubs leave the grid and end in dead ends;
- closed ways: buildings with ``addr:*`` tags, ``amenity=parking``
  lots, a ``highway=pedestrian`` + ``area=yes`` plaza and a
  ``leisure=track`` + ``area=no`` loop;
- relations: four multipolygons (one inner ring; two inner rings; an
  inner way missing from the file; an outer ring stitched from two
  open ways), turn restrictions (``no_left_turn``,
  ``only_right_turn``, ``no_u_turn`` with from == to, …), bus and
  bicycle routes with way and stop-node members and forward/backward
  roles, and ``route_master`` relations over the bus routes.

:attr:`Fixture.roles` names the elements the catalog's changesets act
on (``plans/geo_queries.py`` keeps them as literal ids; a test checks
that the two agree).
"""

from __future__ import annotations

import functools
import hashlib
import os
import random
import stat
import tempfile
from dataclasses import dataclass

_SEED = 20261018
_GRID = 20
_LAT0, _LON0, _STEP = 34.1300, -118.1400, 0.0006
_USERS = [f"mapper{i}" for i in range(24)]


@dataclass
class Fixture:
    """The XML bytes plus what the generator knows it wrote."""

    data: bytes
    counts: dict[str, int]  # elements written, per kind
    roles: dict[str, object]  # ids the catalog's changesets act on


class _Writer:
    """Accumulates elements per kind; ids grow by a seeded gap per kind
    (nodes from 1,000,000, ways from 2,000,000, relations from
    3,000,000)."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.out: dict[str, list[str]] = {"node": [], "way": [], "relation": []}
        self.next = {"node": 1_000_000, "way": 2_000_000, "relation": 3_000_000}
        self.refs: dict[int, list[int]] = {}

    def new_id(self, kind: str) -> int:
        self.next[kind] += self.rng.randint(1, 9)
        return self.next[kind]

    def _attrs(self, eid: int) -> str:
        r = self.rng
        uid = r.randrange(len(_USERS))
        return (
            f'id="{eid}" version="{r.randint(1, 12)}" changeset="{r.randint(1, 9_999_999)}" '
            f'timestamp="20{r.randint(9, 24):02d}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}'
            f'T{r.randint(0, 23):02d}:{r.randint(0, 59):02d}:{r.randint(0, 59):02d}Z" '
            f'user="{_USERS[uid]}" uid="{uid + 1}" visible="true"'
        )

    @staticmethod
    def _tags(tags: dict[str, str] | None) -> list[str]:
        return [f'    <tag k="{k}" v="{v}"/>' for k, v in (tags or {}).items()]

    def node(self, lat: float, lon: float, tags: dict[str, str] | None = None) -> int:
        nid = self.new_id("node")
        head = f'  <node {self._attrs(nid)} lat="{lat:.7f}" lon="{lon:.7f}"'
        if tags:
            self.out["node"] += [head + ">", *self._tags(tags), "  </node>"]
        else:
            self.out["node"].append(head + "/>")
        return nid

    def way(self, refs: list[int], tags: dict[str, str] | None = None) -> int:
        wid = self.new_id("way")
        self.out["way"] += [
            f"  <way {self._attrs(wid)}>",
            *(f'    <nd ref="{r}"/>' for r in refs),
            *self._tags(tags),
            "  </way>",
        ]
        self.refs[wid] = list(refs)
        return wid

    def relation(self, members: list[tuple[str, int, str]], tags: dict[str, str]) -> int:
        rid = self.new_id("relation")
        self.out["relation"] += [
            f"  <relation {self._attrs(rid)}>",
            *(f'    <member type="{t}" ref="{r}" role="{role}"/>' for t, r, role in members),
            *self._tags(tags),
            "  </relation>",
        ]
        return rid

    def ring(self, lat: float, lon: float, half_lat: float, half_lon: float) -> list[int]:
        """A closed 4-corner ring (5 refs, first == last)."""
        corners = [(lat - half_lat, lon - half_lon), (lat - half_lat, lon + half_lon),
                   (lat + half_lat, lon + half_lon), (lat + half_lat, lon - half_lon)]
        ids = [self.node(a, b) for a, b in corners]
        return [*ids, ids[0]]


# street classes by index (EW streets use the first list, NS the
# second); the ways of one street share its class, name and flags
_EW_CLASSES = ["secondary", "residential", "residential", "living_street", "residential",
               "service", "residential", "primary", "residential", "unclassified",
               "residential", "tertiary", "tertiary", "residential", "secondary",
               "residential"]
_NS_CLASSES = ["tertiary", "residential", "residential", "primary", "residential",
               "residential", "service", "residential", "secondary", "residential",
               "unclassified", "residential", "tertiary", "residential", "living_street",
               "residential"]
_STUB_CLASSES = ["footway", "path", "steps", "pedestrian", "cycleway", "footway",
                 "path", "service"]
_AMENITIES = ["cafe", "bench", "bicycle_parking", "post_box", "drinking_water",
              "restaurant", "atm", "waste_basket"]
# intersections (row, column) served by the bus routes below
_BUS_STOPS = {(3, 1), (3, 6), (3, 11), (2, 8), (9, 8)}
_DELETED_ONLY = [{"source": "survey"}, {"created_by": "JOSM"}, {"note": "check position"},
                 {"source": "bing", "created_by": "Potlatch 0.10f"}]


def generate() -> Fixture:
    """Build the fixture document. Pure function of the module's seed."""
    rng = random.Random(_SEED)
    w = _Writer(rng)
    g = _GRID

    def jitter() -> float:
        return rng.uniform(-0.04, 0.04) * _STEP

    def at(i: float, j: float) -> tuple[float, float]:
        return _LAT0 + i * _STEP, _LON0 + j * _STEP

    # intersections
    lattice = [[0] * g for _ in range(g)]
    for i in range(g):
        for j in range(g):
            tags = None
            k = i * g + j
            if (i, j) in _BUS_STOPS:
                tags = {"highway": "bus_stop", "name": f"Stop {i}-{j}"}
            elif k % 11 == 3:
                tags = {"highway": "traffic_signals"}
            elif k % 17 == 5:
                tags = {"highway": "crossing", "crossing": "zebra"}
            lat, lon = at(i, j)
            lattice[i][j] = w.node(lat + jitter(), lon + jitter(), tags)

    # one shape point per block edge; a few carry only deletable tags
    def shape(lat: float, lon: float) -> int:
        tags = rng.choice(_DELETED_ONLY) if rng.random() < 0.08 else None
        return w.node(lat + jitter(), lon + jitter(), tags)

    ew_shape = [[shape(*at(i, j + 0.5)) for j in range(g - 1)] for i in range(g)]
    ns_shape = [[shape(*at(i + 0.5, j)) for i in range(g - 1)] for j in range(g)]

    roles: dict[str, object] = {}

    def street_tags(kind: str, idx: int) -> dict[str, str]:
        classes = _EW_CLASSES if kind == "ew" else _NS_CLASSES
        cls = classes[idx % len(classes)]
        tags = {"highway": cls}
        if cls != "service" and idx % 5 != 4:
            tags["name"] = f"East {idx} Street" if kind == "ew" else f"North {idx} Avenue"
        if (kind, idx) in (("ew", 4), ("ew", 9), ("ns", 2)):
            tags["oneway"] = "yes"
        if cls in ("primary", "secondary", "tertiary") and idx % 2 == 1:
            tags["maxspeed"] = f"{rng.choice([25, 30, 35, 40])} mph"
        if idx % 7 == 2:
            tags["surface"] = "asphalt"
        return tags

    def street_ways(kind: str, idx: int, chunks: list[int] | None = None) -> list[int]:
        """Split one street into ways of 2-5 blocks (``chunks`` forces
        the leading lengths)."""
        if kind == "ew":
            inter = lattice[idx]
            shp = ew_shape[idx]
        else:
            inter = [lattice[i][idx] for i in range(g)]
            shp = ns_shape[idx]
        tags = street_tags(kind, idx)
        ways, b = [], 0
        forced = list(chunks or [])
        while b < g - 1:
            n = forced.pop(0) if forced else rng.randint(2, 5)
            n = min(n, g - 1 - b)
            refs = []
            for k in range(b, b + n):
                refs += [inter[k], shp[k]]
            refs.append(inter[b + n])
            ways.append(w.way(refs, dict(tags)))
            b += n
        return ways

    # east-west street 2 has a one-block way ending at intersection
    # (2, 5), the from-way of the no_left_turn below: its lowest node id
    # sits next to the via node, and with street 3 a slow living_street
    # the banned turn is on the fastest path to intersection (3, 5)
    ew_ways = [street_ways("ew", i, [4, 1] if i == 2 else None) for i in range(g)]
    # NS street 5 is residential and named; its second way (3 blocks,
    # 7 vertices, starting at intersection (2, 5)) is the way the
    # changeset retags
    ns_ways = [street_ways("ns", j, [2, 3] if j == 5 else None) for j in range(g)]
    retagged = ns_ways[5][1]
    roles["retagged_way"] = retagged
    roles["retagged_way_refs"] = tuple(w.refs[retagged][:5])

    # dead-end stubs out of the grid's four sides
    stubs = []
    for s in range(24):
        side, k = s % 4, 1 + (s // 4) * 2
        cls = _STUB_CLASSES[s % len(_STUB_CLASSES)]
        n_out = rng.randint(1, 3)
        if side == 0:
            start, di, dj = lattice[0][k], -1, 0
            base = (0, k)
        elif side == 1:
            start, di, dj = lattice[g - 1][k], 1, 0
            base = (g - 1, k)
        elif side == 2:
            start, di, dj = lattice[k][0], 0, -1
            base = (k, 0)
        else:
            start, di, dj = lattice[k][g - 1], 0, 1
            base = (k, g - 1)
        refs = [start]
        for step in range(1, n_out + 1):
            lat, lon = at(base[0] + di * 0.6 * step, base[1] + dj * 0.6 * step)
            refs.append(w.node(lat + jitter(), lon + jitter()))
        tags = {"highway": cls}
        if s % 3 == 0:
            tags["name"] = f"Trail {s}"
        if cls == "steps":
            tags["step_count"] = str(rng.randint(6, 30))
        stubs.append(w.way(refs, tags))
    # a pedestrian plaza (area=yes) at the end of the first south stub
    plaza_anchor = w.refs[stubs[0]][-1]
    lat0, lon0 = at(-2.2, 1)
    corners = [w.node(lat0 - 0.4 * _STEP, lon0 + dl * _STEP) for dl in (0.5, 1.4)]
    corners.append(w.node(lat0 + 0.1 * _STEP, lon0 + 1.4 * _STEP))
    w.way([plaza_anchor, *corners, plaza_anchor],
          {"highway": "pedestrian", "area": "yes", "name": "Market Plaza"})

    # buildings, parking lots and a running track inside the blocks
    streets = ["East", "North"]
    buildings = []
    for i in range(g - 1):
        for j in range(g - 1):
            clat, clon = at(i + 0.5, j + 0.5)
            r = rng.random()
            if (i, j) == (7, 7):
                ring = w.ring(clat, clon, 0.3 * _STEP, 0.3 * _STEP)
                w.way(ring, {"leisure": "track", "area": "no"})
            elif r < 0.06:
                ring = w.ring(clat, clon, 0.22 * _STEP, 0.3 * _STEP)
                w.way(ring, {"amenity": "parking", "parking": "surface"})
            elif r < 0.85:
                n_b = 1 if r < 0.5 else 2
                for b in range(n_b):
                    off = 0.0 if n_b == 1 else (-0.18 if b == 0 else 0.18) * _STEP
                    ring = w.ring(clat, clon + off, 0.2 * _STEP, 0.12 * _STEP)
                    tags = {"building": rng.choice(["yes", "house", "house", "commercial"])}
                    if rng.random() < 0.8:
                        tags["addr:street"] = f"{streets[b]} {i if b == 0 else j} Street"
                        tags["addr:housenumber"] = str(rng.randint(1, 999))
                        if rng.random() < 0.4:
                            tags["addr:postcode"] = "91125"
                    if rng.random() < 0.1:
                        tags["source"] = "survey"
                    buildings.append(w.way(ring, tags))
    roles["cascaded_way"] = buildings[len(buildings) // 2]

    # standalone amenity POIs: ~10 m off the first quarter of an
    # east-west block edge (nearest edge unambiguous), two far away
    amenities = []
    for k in range(16):
        i = 1 + (k * 5) % (g - 2)
        j = (k * 7 + 3) % (g - 1)
        lat, lon = at(i + 0.15, j + 0.25)
        amenities.append(w.node(lat, lon, {"amenity": _AMENITIES[k % len(_AMENITIES)],
                                           **({"name": f"Spot {k}"} if k % 2 else {})}))
    for k, (di, dj) in enumerate(((-6.0, -6.0), (g + 5.0, g + 5.0))):
        lat, lon = at(di, dj)
        amenities.append(w.node(lat, lon, {"amenity": "shelter", "name": f"Far {k}"}))
    roles["deleted_amenity_nodes"] = (amenities[2], amenities[6], amenities[11])

    # standalone survey points: only deletable tags
    survey = []
    for k in range(24):
        lat, lon = at(rng.uniform(0.1, g - 1.1), rng.uniform(0.1, g - 1.1))
        survey.append(w.node(lat, lon, dict(_DELETED_ONLY[k % len(_DELETED_ONLY)])))
    roles["modify_then_delete_node"] = survey[5]

    # the changeset moves two shape points of one east-west way
    moved_way = ew_ways[6][0]
    roles["moved_nodes"] = (w.refs[moved_way][1], w.refs[moved_way][3])

    # multipolygons north and east of the grid
    def mp_ring(i: float, j: float, hl: float, hw: float) -> int:
        lat, lon = at(i, j)
        return w.way(w.ring(lat, lon, hl * _STEP, hw * _STEP))

    outer1 = mp_ring(g + 1.5, 3, 1.0, 1.5)
    inner1 = mp_ring(g + 1.5, 3, 0.3, 0.4)
    mp1 = w.relation([("way", outer1, "outer"), ("way", inner1, "inner")],
                     {"type": "multipolygon", "building": "university", "name": "Hall"})
    roles["multipolygon"] = mp1
    roles["multipolygon_way"] = outer1

    outer2 = mp_ring(g + 2.5, 9, 2.0, 3.0)
    inner2a = mp_ring(g + 2.0, 7.5, 0.4, 0.5)
    inner2b = mp_ring(g + 3.0, 10.5, 0.5, 0.6)
    w.relation(
        [("way", outer2, "outer"), ("way", inner2a, "inner"), ("way", inner2b, "inner")],
        {"type": "multipolygon", "leisure": "park", "name": "Lattice Park"})

    outer3 = mp_ring(6, g + 2.5, 2.5, 1.5)
    missing_inner = w.new_id("way")  # allocated, never written
    w.relation([("way", outer3, "outer"), ("way", missing_inner, "inner")],
               {"type": "multipolygon", "landuse": "grass"})

    # an outer ring stitched from two open halves
    lat, lon = at(11, g + 2.5)
    hl, hw = 1.5 * _STEP, 1.2 * _STEP
    c = [w.node(lat - hl, lon - hw), w.node(lat - hl, lon + hw),
         w.node(lat + hl, lon + hw), w.node(lat + hl, lon - hw)]
    half_a = w.way([c[0], c[1], c[2]])
    half_b = w.way([c[2], c[3], c[0]])
    w.relation([("way", half_a, "outer"), ("way", half_b, "outer")],
               {"type": "multipolygon", "natural": "wood"})

    # turn restrictions at intersections
    def ew_way_at(i: int, j: int) -> int:
        """The east-west way of street i whose refs contain lattice[i][j]
        as an interior or end vertex (first match)."""
        return next(x for x in ew_ways[i] if lattice[i][j] in w.refs[x])

    def restriction(kind: str, frm: int, via: int, to: int) -> int:
        return w.relation([("way", frm, "from"), ("node", via, "via"), ("way", to, "to")],
                          {"type": "restriction", "restriction": kind})

    via = w.refs[retagged][0]  # intersection (2, 5)
    roles["restriction"] = restriction("no_left_turn", ew_way_at(2, 5), via, retagged)
    restriction("only_right_turn", ew_way_at(8, 3), lattice[8][3],
                next(x for x in ns_ways[3] if lattice[8][3] in w.refs[x]))
    restriction("no_right_turn", ew_way_at(11, 8), lattice[11][8],
                next(x for x in ns_ways[8] if lattice[11][8] in w.refs[x]))
    for i, j in ((4, 10), (12, 2)):
        x = ew_way_at(i, j)
        restriction("no_u_turn", x, lattice[i][j], x)
    restriction("no_straight_on", ew_way_at(9, 12), lattice[9][12],
                next(x for x in ns_ways[12] if lattice[9][12] in w.refs[x]))

    # bus lines along an east-west and a north-south street, each one
    # route per direction plus a route_master; a bicycle route with
    # forward/backward roles
    def stops(nodes: list[int]) -> list[tuple[str, int, str]]:
        return [("node", n, "stop") for n in nodes]

    ew3 = ew_ways[3]
    ew3_stops = [lattice[3][j] for j in (1, 6, 11)]
    bus10a = w.relation([*stops(ew3_stops), *(("way", x, "") for x in ew3)],
                        {"type": "route", "route": "bus", "ref": "10", "name": "10 east"})
    bus10b = w.relation([*stops(ew3_stops[::-1]), *(("way", x, "") for x in ew3[::-1])],
                        {"type": "route", "route": "bus", "ref": "10", "name": "10 west"})
    roles["deleted_route"] = bus10a
    w.relation([("relation", bus10a, ""), ("relation", bus10b, "")],
               {"type": "route_master", "route_master": "bus", "ref": "10"})
    ns8 = ns_ways[8]
    ns8_stops = [lattice[i][8] for i in (2, 9)]
    bus20a = w.relation([*stops(ns8_stops), *(("way", x, "") for x in ns8)],
                        {"type": "route", "route": "bus", "ref": "20"})
    bus20b = w.relation([*stops(ns8_stops[::-1]), *(("way", x, "") for x in ns8[::-1])],
                        {"type": "route", "route": "bus", "ref": "20"})
    w.relation([("relation", bus20a, ""), ("relation", bus20b, "")],
               {"type": "route_master", "route_master": "bus"})
    ew10 = ew_ways[10]
    w.relation([("way", x, ("forward", "backward", "")[k % 3]) for k, x in enumerate(ew10)]
               + [("node", lattice[10][0], "")],
               {"type": "route", "route": "bicycle", "ref": "66", "network": "lcn"})

    head = [
        "<?xml version='1.0' encoding='UTF-8'?>",
        '<osm version="0.6" generator="ariadne_cartograph_spark osm_fixture">',
        f'  <bounds minlat="{_LAT0 - 4 * _STEP:.7f}" minlon="{_LON0 - 4 * _STEP:.7f}" '
        f'maxlat="{_LAT0 + (g + 5) * _STEP:.7f}" maxlon="{_LON0 + (g + 5) * _STEP:.7f}"/>',
    ]
    body = [*w.out["node"], *w.out["way"], *w.out["relation"]]
    counts = {
        kind: sum(1 for line in lines if line.startswith(f"  <{kind} "))
        for kind, lines in w.out.items()
    }
    data = "\n".join([*head, *body, "</osm>", ""]).encode()
    return Fixture(data=data, counts=counts, roles=roles)


@functools.lru_cache(maxsize=1)
def _fixture() -> Fixture:
    return generate()


def ensure_osm_fixture() -> str:
    """Write the fixture once and return its path. The file name
    carries the first 16 hex digits of the bytes' sha256; the write
    goes to a private temporary name and publishes with ``os.replace``
    (atomic under concurrent callers).

    The root's name is fixed, so it must be this user's and writable by
    no one else (made with mode 0700), or this raises; a file already
    there is returned only when its bytes are the fixture's, and is
    rewritten otherwise."""
    data = _fixture().data
    root = os.path.join(tempfile.gettempdir(), "acs_osm_fixture")
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.lstat(root)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() or st.st_mode & 0o022:
        raise PermissionError(
            f"{root}: the OSM fixture root must be a directory owned by uid "
            f"{os.getuid()} and not writable by group or others"
        )
    path = os.path.join(root, f"fixture-{hashlib.sha256(data).hexdigest()[:16]}.osm")
    try:
        with open(path, "rb") as f:
            if f.read() == data:
                return path
    except FileNotFoundError:
        pass
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)
    return path


if __name__ == "__main__":  # print the fixture's path (writing it once)
    print(ensure_osm_fixture())
