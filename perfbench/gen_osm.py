"""Seeded OSM XML (API v0.6) street-grid generator with its own census.

The element mix follows the source model of SURVEY.md §1.1: tagged and
untagged nodes, open ``highway`` ways, closed ``building`` ways,
``multipolygon`` relations with an outer and an inner ring, and
``restriction``, ``route`` and ``route_master`` relations.

A ``grid`` x ``grid`` lattice of intersections carries ``grid``
east-west and ``grid`` north-south streets, each an open way through
every intersection on its line, so the routable topology has
``2 * grid * (grid - 1)`` edges. The same ``(seed, grid)`` gives a
byte-identical file.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

_LAT0, _LON0, _STEP = 34.13, -118.13, 0.0005
_HIGHWAYS = ["residential", "tertiary", "secondary", "footway", "service", "primary"]
_USERS = [f"mapper{i}" for i in range(20)]
_RESTRICTIONS = ["no_left_turn", "no_u_turn", "only_right_turn", "no_right_turn"]


@dataclass
class Census:
    nodes: int = 0
    ways: int = 0
    relations: int = 0
    edges: int = 0
    by_kind: dict[str, int] = field(default_factory=dict)


class _Writer:
    def __init__(self, rng: random.Random):
        self.rng = rng
        self.out: dict[str, list[str]] = {"node": [], "way": [], "relation": []}
        self.census = Census()
        self.next_id = 1000

    def new_id(self) -> int:
        self.next_id += self.rng.randint(1, 9)
        return self.next_id

    def _attrs(self, eid: int) -> str:
        r = self.rng
        uid = r.randrange(len(_USERS))
        return (
            f'id="{eid}" version="{r.randint(1, 13)}" changeset="{r.randint(1, 9_999_999)}" '
            f'timestamp="20{r.randint(9, 17):02d}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}'
            f'T{r.randint(0, 23):02d}:{r.randint(0, 59):02d}:{r.randint(0, 59):02d}Z" '
            f'user="{_USERS[uid]}" uid="{uid + 1}" visible="true"'
        )

    @staticmethod
    def _tags(tags: dict[str, str]) -> list[str]:
        return [f'    <tag k="{k}" v="{v}"/>' for k, v in tags.items()]

    def node(self, lat: float, lon: float, tags: dict[str, str] | None = None) -> int:
        nid = self.new_id()
        head = f'  <node {self._attrs(nid)} lat="{lat:.7f}" lon="{lon:.7f}"'
        if tags:
            self.out["node"] += [head + ">", *self._tags(tags), "  </node>"]
        else:
            self.out["node"].append(head + "/>")
        self.census.nodes += 1
        return nid

    def way(self, refs: list[int], tags: dict[str, str] | None = None) -> int:
        wid = self.new_id()
        self.out["way"] += [
            f"  <way {self._attrs(wid)}>",
            *(f'    <nd ref="{r}"/>' for r in refs),
            *self._tags(tags or {}),
            "  </way>",
        ]
        self.census.ways += 1
        return wid

    def relation(self, members: list[tuple[str, int, str]], tags: dict[str, str]) -> int:
        rid = self.new_id()
        self.out["relation"] += [
            f"  <relation {self._attrs(rid)}>",
            *(f'    <member type="{t}" ref="{r}" role="{role}"/>' for t, r, role in members),
            *self._tags(tags),
            "  </relation>",
        ]
        self.census.relations += 1
        return rid

    def ring(self, lat: float, lon: float, half: float) -> list[int]:
        corners = [(lat - half, lon - half), (lat - half, lon + half),
                   (lat + half, lon + half), (lat + half, lon - half)]
        ids = [self.node(a, b) for a, b in corners]
        return [*ids, ids[0]]


def generate(seed: int, grid: int) -> tuple[bytes, Census]:
    """Return the XML document and its census."""
    if grid < 3:
        raise ValueError(f"grid must be >= 3, got {grid}")
    rng = random.Random(seed)
    w = _Writer(rng)

    def jitter() -> float:
        return rng.uniform(-0.05, 0.05) * _STEP

    lattice = [[0] * grid for _ in range(grid)]
    for i in range(grid):
        for j in range(grid):
            tags = None
            if (i * grid + j) % 7 == 0:
                tags = {"highway": rng.choice(["traffic_signals", "stop", "crossing"])}
            elif (i * grid + j) % 23 == 0:
                tags = {"highway": "bus_stop", "name": f"Stop {i}-{j}"}
            lattice[i][j] = w.node(_LAT0 + i * _STEP + jitter(), _LON0 + j * _STEP + jitter(), tags)

    streets_ew, streets_ns = [], []
    for i in range(grid):
        streets_ew.append(w.way(lattice[i], {
            "highway": rng.choice(_HIGHWAYS), "name": f"East {i} Street",
            "maxspeed": f"{rng.choice([25, 30, 35, 40])} mph",
        }))
    for j in range(grid):
        streets_ns.append(w.way([lattice[i][j] for i in range(grid)], {
            "highway": rng.choice(_HIGHWAYS), "name": f"North {j} Avenue",
        }))

    # a building in some blocks, a multipolygon with a courtyard in a few
    for i in range(grid - 1):
        for j in range(grid - 1):
            clat, clon = _LAT0 + (i + 0.5) * _STEP, _LON0 + (j + 0.5) * _STEP
            if (i * 7 + j * 3) % 37 == 5:
                outer = w.way(w.ring(clat, clon, 0.3 * _STEP))
                inner = w.way(w.ring(clat, clon, 0.1 * _STEP))
                w.relation([("way", outer, "outer"), ("way", inner, "inner")],
                           {"type": "multipolygon", "building": "yes"})
            elif rng.random() < 0.12:
                w.way(w.ring(clat, clon, 0.2 * _STEP), {
                    "building": "yes", "addr:street": f"East {i} Street",
                    "addr:housenumber": str(rng.randint(1, 999)),
                })

    for k in range(max(1, grid // 5)):
        i, j = rng.randrange(grid), rng.randrange(grid)
        w.relation([("way", streets_ew[i], "from"), ("node", lattice[i][j], "via"),
                    ("way", streets_ns[j], "to")],
                   {"type": "restriction", "restriction": rng.choice(_RESTRICTIONS)})
    routes = []
    for k in range(max(1, grid // 10)):
        picks = sorted(rng.sample(range(grid), min(3, grid)))
        routes.append(w.relation(
            [("way", streets_ew[p], "forward") for p in picks],
            {"type": "route", "route": "bus", "ref": str(k + 1)}))
    w.relation([("relation", r, "") for r in routes], {"type": "route_master", "route_master": "bus"})

    c = w.census
    c.edges = 2 * grid * (grid - 1)
    c.by_kind = {"node": c.nodes, "way": c.ways, "relation": c.relations}
    head = [
        "<?xml version='1.0' encoding='UTF-8'?>",
        '<osm version="0.6" generator="perfbench">',
        f'  <bounds minlat="{_LAT0 - _STEP:.7f}" minlon="{_LON0 - _STEP:.7f}" '
        f'maxlat="{_LAT0 + grid * _STEP:.7f}" maxlon="{_LON0 + grid * _STEP:.7f}"/>',
    ]
    body = [*w.out["node"], *w.out["way"], *w.out["relation"]]
    return "\n".join([*head, *body, "</osm>", ""]).encode(), c


def write_osm(path: str, seed: int, grid: int) -> Census:
    data, census = generate(seed, grid)
    with open(path, "wb") as f:
        f.write(data)
    return census
