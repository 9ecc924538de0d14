"""Topology builder + POI nearest-edge assignment tests (SURVEY.md
§2.6 / J4) — structure on the repository's seeded OSM fixture
(sources/osm_fixture.py), checked against a plain ElementTree census
of the XML, plus a hand-built micro-fixture with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ariadne_cartograph_spark.operators.spatial import assign_pois_to_edges
from ariadne_cartograph_spark.operators.topology import build_topology, routable_ways
from ariadne_cartograph_spark.sources.osm import read_osm_elements, split_elements
from tests.osm_census import mercator, ring_area_m2, topology as census_topology


@pytest.fixture(scope="module")
def topo(spark, osm_fixture):
    t = split_elements(read_osm_elements(spark, osm_fixture))
    rw = routable_ways(t["ways"]).cache()
    out = build_topology(t["nodes"], rw)
    out["edges"] = out["edges"].cache()
    return {"nodes": t["nodes"], "rways": rw, **out}


def test_topology_structure(topo):
    n_ways = topo["rways"].count()
    n_edges = topo["edges"].count()
    # splitting can only create more edges than ways
    assert n_edges >= n_ways
    # every edge has >=2 vertices, endpoints = source/target
    bad = topo["edges"].filter(F.size("geom") < 2).count()
    assert bad == 0
    # gids are unique and key-derived (osm_way_id * 2^16 + seg_id) —
    # deterministic and shuffle-free, unlike a global row_number
    assert topo["edges"].select("gid").distinct().count() == n_edges
    mismatched = topo["edges"].filter(
        F.col("gid") != F.col("osm_way_id") * 65536 + F.col("seg_id")
    ).count()
    assert mismatched == 0


def test_vertices_pgr_bookkeeping(topo):
    """ways_vertices_pgr analog (README.md:44,48): cnt = incident edge
    count, ein/eout directed degrees under oneway, chk flags degree-1
    dead ends. Cross-checked against a driver-side recount of the edge
    endpoint lists."""
    verts = {r.node_id: r for r in topo["vertices"].collect()}
    edges = topo["edges"].select("source", "target", "oneway").collect()
    cnt, ein, eout = {}, {}, {}
    for e in edges:
        one = e.oneway in ("yes", "true", "1")
        cnt[e.source] = cnt.get(e.source, 0) + 1
        cnt[e.target] = cnt.get(e.target, 0) + 1
        eout[e.source] = eout.get(e.source, 0) + 1
        ein[e.target] = ein.get(e.target, 0) + 1
        if not one:
            ein[e.source] = ein.get(e.source, 0) + 1
            eout[e.target] = eout.get(e.target, 0) + 1
    assert set(verts) == set(cnt)
    for nid, r in verts.items():
        assert r.cnt == cnt[nid]
        assert r.ein == ein.get(nid, 0)
        assert r.eout == eout.get(nid, 0)
        assert r.chk == (1 if cnt[nid] == 1 else 0)
    # the fixture graph has real dead ends AND real intersections
    assert any(r.chk == 1 for r in verts.values())
    assert any(r.cnt > 2 for r in verts.values())


def test_edge_attributes_census(topo, osm_fixture):
    """--attributes --tags analog (README.md:44): every edge carries
    its way's highway / name / oneway and tags map. Golden numbers
    re-derived from the XML with a plain ElementTree pass (the same
    literals pinned in the osm_topology_edges oracle)."""
    import xml.etree.ElementTree as ET

    root = ET.parse(osm_fixture).getroot()
    classes, oneway_ways, named_ways = set(), set(), set()
    for el in root:
        if el.tag != "way":
            continue
        tags = {t.get("k"): t.get("v") for t in el if t.tag == "tag"}
        refs = [nd.get("ref") for nd in el if nd.tag == "nd"]
        if "highway" not in tags or len(refs) < 2:
            continue
        classes.add(tags["highway"])
        if tags.get("oneway") in ("yes", "true", "1"):
            oneway_ways.add(el.get("id"))
        if "name" in tags:
            named_ways.add(el.get("id"))

    e = topo["edges"]
    got = e.agg(
        F.countDistinct("highway").alias("n_classes"),
        F.countDistinct(
            F.when(F.col("oneway").isin("yes", "true", "1"), F.col("osm_way_id"))
        ).alias("n_oneway"),
        F.countDistinct(
            F.when(F.col("name").isNotNull(), F.col("osm_way_id"))
        ).alias("n_named"),
    ).collect()[0]
    assert got.n_classes == len(classes) == 12
    assert got.n_oneway == len(oneway_ways) == 19
    assert got.n_named == len(named_ways) == 181
    # known way: every segment of North 5 Avenue keeps its attributes
    from ariadne_cartograph_spark.plans.geo_queries import OSC_RETAGGED_WAY

    segs = e.filter(F.col("osm_way_id") == OSC_RETAGGED_WAY).collect()
    assert segs
    for s in segs:
        assert s.highway == "residential"
        assert s.name == "North 5 Avenue"
        assert s.tags["highway"] == "residential"


def test_topology_micro_fixture(spark):
    # two ways crossing at node 3: A = 1-2-3-4, B = 5-3-6
    nodes = spark.createDataFrame(
        [(i, 0.001 * i, 0.0) for i in (1, 2, 4)]
        + [(3, 0.003, 0.0), (5, 0.003, -0.001), (6, 0.003, 0.001)],
        "id long, lon double, lat double",
    )
    ways = spark.createDataFrame(
        [(100, [1, 2, 3, 4]), (200, [5, 3, 6])],
        "id long, node_refs array<long>",
    )
    edges = build_topology(nodes, ways)["edges"].collect()
    segs = {(e.osm_way_id, e.source, e.target) for e in edges}
    assert segs == {(100, 1, 3), (100, 3, 4), (200, 5, 3), (200, 3, 6)}


def test_topology_matches_census_edge_for_edge(topo, osm_doc):
    """Every edge of the fixture's import equals the plain-Python split
    of the XML (tests/osm_census.topology): same gid, endpoints and
    vertex count, coordinates within the readers' 1e-7° grid."""
    want = {e.gid: e for e in census_topology(osm_doc)}
    got = {r.gid: r for r in topo["edges"].collect()}
    assert len(got) == len(want) == 785
    assert set(got) == set(want)
    for gid, e in want.items():
        r = got[gid]
        assert (r.osm_way_id, r.seg_id, r.source, r.target) == (
            e.way_id, e.seg, e.source, e.target
        )
        assert len(r.geom) == len(e.geom)
        for p, (lng, lat) in zip(r.geom, e.geom):
            assert abs(p.lng - lng) <= 1e-7 and abs(p.lat - lat) <= 1e-7


def test_topology_edge_cases(spark):
    """Hand-derived edges for the inputs a real extract throws at the
    split: a closed ring, a self-intersection, a repeated consecutive
    ref, refs to nodes absent from the file (at an end and inside),
    and single-ref and empty ways. Node k sits at (k/1000, k/2000)."""
    nodes = spark.createDataFrame(
        [(k, k / 1000, k / 2000) for k in range(1, 15)],
        "id long, lon double, lat double",
    )
    ways = spark.createDataFrame(
        [
            (1, [1, 2, 3, 4, 1]),       # closed ring; 2 and 3 are shared
            (2, [5, 3, 6, 3, 7]),       # crosses itself at 3
            (3, [7, 8, 8, 9]),          # 8 twice in a row
            (4, [50, 2, 51, 10, 60]),   # 50, 51, 60 are not in the file
            (5, [11]),                  # one ref
            (6, []),                    # no refs
            (7, [12, 52, 13]),          # 52 is absent and shared with 8
            (8, [14, 52]),
        ],
        "id long, node_refs array<long>",
    )
    # way → [(seg, [node ids])]; a split node closes one segment and
    # opens the next, absent nodes split but carry no vertex
    want = {
        1: [(0, [1, 2]), (1, [2, 3]), (2, [3, 4, 1])],
        2: [(0, [5, 3]), (1, [3, 6, 3]), (2, [3, 7])],
        3: [(0, [7, 8]), (1, [8, 8]), (2, [8, 9])],
        # segments 50–2 and 10–60 keep one vertex each and drop out
        4: [(1, [2, 10])],
        # 52 splits way 7 into 12–52 and 52–13: no edge joins 12 to 13
    }
    got = {
        (r.osm_way_id, r.seg_id): r
        for r in build_topology(nodes, ways)["edges"].collect()
    }
    assert set(got) == {(w, s) for w, segs in want.items() for s, _ in segs}
    for w, segs in want.items():
        for s, nids in segs:
            r = got[(w, s)]
            assert r.gid == w * 65536 + s
            assert (r.source, r.target) == (nids[0], nids[-1])
            assert [(p.lng, p.lat) for p in r.geom] == [(k / 1000, k / 2000) for k in nids]


def test_poi_assignment_micro(spark):
    # one horizontal edge along lat=0 from lng 0 to 0.002 (~222m)
    edges = spark.createDataFrame(
        [(1, [(0.0, 0.0), (0.002, 0.0)]), (2, [(1.0, 1.0), (1.001, 1.0)])],
        "gid long, geom array<struct<lng:double,lat:double>>",
    )
    pois = spark.createDataFrame(
        [
            (10, 0.001, 0.0002),   # ~22m above the middle of edge 1 → match
            (11, 0.001, 0.0015),   # ~167m away → inside radius, outside within
            (12, 0.5, 0.5),        # nowhere near anything → too_far
        ],
        "pid long, lng double, lat double",
    )
    got = {r.pid: r for r in assign_pois_to_edges(pois, edges).collect()}
    assert got[10].gid == 1 and not got[10].too_far
    assert abs(got[10].dist_m - 22.2) < 1.0
    assert got[11].gid is None and got[11].too_far
    assert got[12].gid is None and got[12].too_far


def test_poi_assignment_fixture_scale(spark, topo):
    # place POIs at slight offsets from real edge vertices → all match
    sample = topo["edges"].limit(20).select(
        F.col("gid"), F.element_at("geom", 1).alias("p")
    )
    pois = sample.select(
        F.col("gid").alias("pid"),
        (F.col("p.lng") + 0.0001).alias("lng"),  # ~9m east
        F.col("p.lat").alias("lat"),
    )
    got = assign_pois_to_edges(pois, topo["edges"])
    assert got.filter(F.col("too_far")).count() == 0
    assert got.filter(F.col("dist_m") > 50).count() == 0


# ---------------------------------------------------------------------------
# point_in_ring / point_in_polygon / points_in_polygons (ST_Contains)
# ---------------------------------------------------------------------------


def test_point_in_polygon_cases(spark):
    from pyspark.sql import functions as F

    from ariadne_cartograph_spark.functions.geometry import point_in_polygon

    pt = "struct<lng:double,lat:double>"
    square = [{"lng": float(x), "lat": float(y)}
              for x, y in [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]]
    hole = [[{"lng": float(x), "lat": float(y)}
             for x, y in [(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)]]]
    lshape = [{"lng": float(x), "lat": float(y)}
              for x, y in [(0, 0), (10, 0), (10, 4), (4, 4), (4, 10), (0, 10), (0, 0)]]
    cases = [
        # (lng, lat, geom, holes, expect)
        (5.0, 1.0, square, hole, True),    # inside, below the hole
        (5.0, 5.0, square, hole, False),   # inside the hole
        (5.0, 5.0, square, [], True),      # same point, no hole
        (-1.0, 5.0, square, [], False),    # outside west
        (11.0, 5.0, square, [], False),    # outside east
        (2.0, 2.0, lshape, [], True),      # in the L's thick corner
        (8.0, 2.0, lshape, [], True),      # in the L's bottom arm
        (8.0, 8.0, lshape, [], False),     # in the L's notch
        (2.0, 8.0, lshape, [], True),      # in the L's left arm
    ]
    df = spark.createDataFrame(
        [(i, lng, lat, g, h) for i, (lng, lat, g, h, _) in enumerate(cases)],
        f"i int, lng double, lat double, geom array<{pt}>, holes array<array<{pt}>>",
    )
    got = {
        r["i"]: r["inside"]
        for r in df.select(
            "i",
            point_in_polygon(
                F.col("lng"), F.col("lat"), F.col("geom"), F.col("holes")
            ).alias("inside"),
        ).collect()
    }
    for i, (_, _, _, _, expect) in enumerate(cases):
        assert got[i] == expect, f"case {i}"


def test_points_in_polygons_join_matches_python(spark):
    """Random points vs a python ray-crossing oracle over the same
    polygons (bbox prefilter must never change the answer)."""
    import random

    from ariadne_cartograph_spark.operators.spatial import points_in_polygons

    polys_py = {
        1: ([(0.005, 0.005), (10.005, 0.005), (10.005, 10.005),
             (0.005, 10.005), (0.005, 0.005)],
            [[(4.005, 4.005), (6.005, 4.005), (6.005, 6.005),
              (4.005, 6.005), (4.005, 4.005)]]),
        2: ([(-8.005, -8.005), (-1.005, -8.005), (-1.005, -1.005),
             (-8.005, -1.005), (-8.005, -8.005)], []),
    }

    def pip(x, y, ring):
        inside = False
        for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
            if (y1 > y) != (y2 > y) and x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
                inside = not inside
        return inside

    rng = random.Random(7)
    pts = [(i, round(rng.uniform(-12, 12), 1), round(rng.uniform(-12, 12), 1))
           for i in range(300)]
    want = {
        (i, pid)
        for i, x, y in pts
        for pid, (outer, holes) in polys_py.items()
        if pip(x, y, outer) and not any(pip(x, y, h) for h in holes)
    }
    pt = "struct<lng:double,lat:double>"
    polys = spark.createDataFrame(
        [
            (pid, [{"lng": x, "lat": y} for x, y in outer],
             [[{"lng": x, "lat": y} for x, y in h] for h in holes])
            for pid, (outer, holes) in polys_py.items()
        ],
        f"poly_id int, geom array<{pt}>, holes array<array<{pt}>>",
    )
    pts_df = spark.createDataFrame(pts, "pid int, lng double, lat double")
    got = {
        (r["pid"], r["poly_id"])
        for r in points_in_polygons(pts_df, polys).collect()
    }
    assert got == want and len(want) > 30


def _pip_fixture(spark, n_polys=60, n_pts=400, seed=11):
    """Polygon grid with varied sizes + holes, random points — enough
    hits/misses/boundary cells to exercise both containment routes."""
    import random

    rng = random.Random(seed)
    polys_py = {}
    for pid in range(1, n_polys + 1):
        cx, cy = rng.uniform(-40, 40), rng.uniform(-40, 40)
        w, h = rng.uniform(0.5, 8.0), rng.uniform(0.5, 8.0)
        outer = [(cx, cy), (cx + w, cy), (cx + w, cy + h), (cx, cy + h), (cx, cy)]
        holes = []
        if pid % 4 == 0:
            hw, hh = w / 4, h / 4
            holes = [[(cx + hw, cy + hh), (cx + 2 * hw, cy + hh),
                      (cx + 2 * hw, cy + 2 * hh), (cx + hw, cy + 2 * hh),
                      (cx + hw, cy + hh)]]
        polys_py[pid] = (outer, holes)
    pts = [(i, rng.uniform(-45, 45), rng.uniform(-45, 45)) for i in range(n_pts)]
    pt = "struct<lng:double,lat:double>"
    polys = spark.createDataFrame(
        [
            (pid, [{"lng": x, "lat": y} for x, y in outer],
             [[{"lng": x, "lat": y} for x, y in h] for h in holes])
            for pid, (outer, holes) in polys_py.items()
        ],
        f"poly_id int, geom array<{pt}>, holes array<array<{pt}>>",
    )
    pts_df = spark.createDataFrame(pts, "pid int, lng double, lat double")
    return pts_df, polys


def test_points_in_polygons_grid_route_equals_broadcast(spark):
    """r12 verdict task #4: the grid-cell route (billion-polygon
    regime) must be row-identical to the broadcast route, including
    holes and bbox-straddling points; the routes must be genuinely
    different plans (cell equi-join vs broadcast nested loop)."""
    from ariadne_cartograph_spark.operators.spatial import points_in_polygons

    pts_df, polys = _pip_fixture(spark)
    b_df = points_in_polygons(pts_df, polys, strategy="broadcast")
    g_df = points_in_polygons(pts_df, polys, strategy="grid")
    b_plan = b_df._jdf.queryExecution().executedPlan().toString()
    g_plan = g_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in b_plan
    assert "BroadcastNestedLoopJoin" not in g_plan  # genuine grid route
    b = {(r["pid"], r["poly_id"]) for r in b_df.collect()}
    g = {(r["pid"], r["poly_id"]) for r in g_df.collect()}
    assert b == g and len(b) > 20
    # output schemas identical (points cols + poly_id, same order)
    assert b_df.columns == g_df.columns
    # explicit cell size (scale knob) must not change the answer
    g2 = points_in_polygons(pts_df, polys, strategy="grid", cell_deg=1.3)
    assert {(r["pid"], r["poly_id"]) for r in g2.collect()} == b


def test_points_in_polygons_grid_outlier_clamp(spark, monkeypatch):
    """r14 ADVICE: a continent-scale bbox outlier among parcel-sized
    polygons must not inflate the grid (p95 cell sizing) nor build a
    job-killing flatten(sequence×sequence) row (cells cap) — it routes
    through the broadcast side-channel, rows identical to the pure
    broadcast plan; and an outlier side too big to broadcast raises
    the documented error instead of OOM-ing."""
    import ariadne_cartograph_spark.operators.spatial as S

    # 40 parcel-sized squares + one near-global polygon with a hole
    polys_py = {}
    for pid in range(1, 41):
        cx, cy = (pid % 8) * 2.0 - 8.0, (pid // 8) * 2.0 - 4.0
        polys_py[pid] = (
            [(cx, cy), (cx + 1.5, cy), (cx + 1.5, cy + 1.5),
             (cx, cy + 1.5), (cx, cy)],
            [],
        )
    polys_py[99] = (
        [(-170.005, -80.005), (170.005, -80.005), (170.005, 80.005),
         (-170.005, 80.005), (-170.005, -80.005)],
        [[(-1.005, -1.005), (1.005, -1.005), (1.005, 1.005),
          (-1.005, 1.005), (-1.005, -1.005)]],
    )
    import random

    rng = random.Random(3)
    pts = [(i, rng.uniform(-12, 12), rng.uniform(-6, 6)) for i in range(200)]
    pt = "struct<lng:double,lat:double>"
    polys = spark.createDataFrame(
        [
            (pid, [{"lng": x, "lat": y} for x, y in outer],
             [[{"lng": x, "lat": y} for x, y in h] for h in holes])
            for pid, (outer, holes) in polys_py.items()
        ],
        f"poly_id int, geom array<{pt}>, holes array<array<{pt}>>",
    )
    pts_df = spark.createDataFrame(pts, "pid int, lng double, lat double")

    base = {(r["pid"], r["poly_id"])
            for r in S.points_in_polygons(pts_df, polys, strategy="broadcast").collect()}
    g_df = S.points_in_polygons(pts_df, polys, strategy="grid")
    g_plan = g_df._jdf.queryExecution().executedPlan().toString()
    # outlier side-channel engaged: the grid plan carries BOTH a cell
    # equi-join and a broadcast NL join for the single outlier
    assert "BroadcastNestedLoopJoin" in g_plan
    got = {(r["pid"], r["poly_id"]) for r in g_df.collect()}
    assert got == base
    # the near-global polygon matched most points (minus its hole), the
    # parcels matched some: both routes contributed
    assert any(p == 99 for _, p in got) and any(p != 99 for _, p in got)

    # outlier side too big to broadcast -> explicit error, not OOM
    monkeypatch.setattr(S, "PIP_BROADCAST_MAX_POLYGONS", 0)
    import pytest

    with pytest.raises(ValueError, match="coarser"):
        S.points_in_polygons(pts_df, polys, strategy="grid")


def test_points_in_polygons_auto_routes_on_cardinality(spark, monkeypatch):
    """auto = broadcast for dimension-sized polygon tables, grid when
    the side is too big to broadcast (forced here via the threshold —
    the hint/footer/count ladder is the cosine_topk gate pattern)."""
    import ariadne_cartograph_spark.operators.spatial as S

    pts_df, polys = _pip_fixture(spark, n_polys=30, n_pts=150, seed=5)
    base = {(r["pid"], r["poly_id"])
            for r in S.points_in_polygons(pts_df, polys, strategy="broadcast").collect()}

    # hint below threshold -> broadcast plan, jobless routing
    a_df = S.points_in_polygons(pts_df, polys, polygons_count_hint=30)
    assert "BroadcastNestedLoopJoin" in a_df._jdf.queryExecution().executedPlan().toString()
    assert {(r["pid"], r["poly_id"]) for r in a_df.collect()} == base

    # polygon side "too big to broadcast": threshold forced under the
    # fixture's cardinality -> auto must take the grid route and agree
    monkeypatch.setattr(S, "PIP_BROADCAST_MAX_POLYGONS", 10)
    big_df = S.points_in_polygons(pts_df, polys)
    assert "BroadcastNestedLoopJoin" not in big_df._jdf.queryExecution().executedPlan().toString()
    assert {(r["pid"], r["poly_id"]) for r in big_df.collect()} == base


def test_polygon_area_mercator_shoelace(spark):
    """Engine area vs an independent python replay of the same
    Mercator shoelace, plus a closed-form check: a Mercator-plane
    'rectangle' in projected coords has area exactly dx*dy there."""
    from pyspark.sql import functions as F

    from ariadne_cartograph_spark.functions.geometry import polygon_area_m2

    sq = [(10.0, 45.0), (10.1, 45.0), (10.1, 45.1), (10.0, 45.1), (10.0, 45.0)]
    hole = [(10.02, 45.02), (10.04, 45.02), (10.04, 45.04), (10.02, 45.04), (10.02, 45.02)]
    tri = [(-5.0, -5.0), (5.0, -5.0), (0.0, 8.0), (-5.0, -5.0)]
    pt = "struct<lng:double,lat:double>"
    df = spark.createDataFrame(
        [
            (1, [{"lng": x, "lat": y} for x, y in sq],
             [[{"lng": x, "lat": y} for x, y in hole]]),
            (2, [{"lng": x, "lat": y} for x, y in tri], []),
        ],
        f"i int, geom array<{pt}>, holes array<array<{pt}>>",
    )
    got = {
        r["i"]: r["a"]
        for r in df.select(
            "i", polygon_area_m2(F.col("geom"), F.col("holes")).alias("a")
        ).collect()
    }
    assert got[1] == pytest.approx(ring_area_m2(sq) - ring_area_m2(hole), rel=1e-9)
    assert got[2] == pytest.approx(ring_area_m2(tri), rel=1e-9)
    # closed-form: axis-aligned in lnglat => rectangle in Mercator plane
    x0, y0 = mercator(10.0, 45.0)
    x1, y1 = mercator(10.1, 45.1)
    assert ring_area_m2(sq) == pytest.approx((x1 - x0) * (y1 - y0), rel=1e-9)


def test_simplify_radial_semantics(spark):
    """Endpoints always kept; middle vertices kept iff >= eps from the
    LAST KEPT vertex (sequential, not pairwise); <=2-vertex lines pass
    through. 1 deg lat ~ 111.2 km, so eps=150km drops 0.5-deg steps
    that pairwise-spacing logic would keep."""
    from pyspark.sql import functions as F

    from ariadne_cartograph_spark.functions.geometry import simplify_radial_m

    pt = "struct<lng:double,lat:double>"
    # walk north in 0.5-deg steps: each step ~55.6km < eps, but every
    # third accumulates ~166km from the last kept -> kept
    walk = [{"lng": 0.0, "lat": 0.5 * i} for i in range(7)]
    two = [{"lng": 0.0, "lat": 0.0}, {"lng": 0.0, "lat": 0.1}]
    df = spark.createDataFrame(
        [(1, walk), (2, two)], f"i int, geom array<{pt}>"
    )
    got = {
        r["i"]: [p["lat"] for p in r["s"]]
        for r in df.select(
            "i", simplify_radial_m(F.col("geom"), 150_000.0).alias("s")
        ).collect()
    }
    # kept: start 0.0; 1.5 (166km from 0); 3.0 (166km from 1.5); then
    # the endpoint 3.0? no - endpoint is lat 3.0 at index 6, already
    # kept by distance; appended unconditionally as the final vertex.
    assert got[1][0] == 0.0 and got[1][-1] == 3.0
    assert all(b - a >= 1.4999 for a, b in zip(got[1], got[1][1:-1]))
    assert got[2] == [0.0, 0.1]  # <=2 vertices: unchanged
