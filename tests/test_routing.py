"""Distributed shortest-path (operators/routing) vs pure-Python
oracles on the topology of the repository's seeded OSM fixture
(sources/osm_fixture.py) — BFS hop counts exactly, weighted
Bellman-Ford vs Dijkstra within float tolerance."""

from __future__ import annotations

import heapq
import math
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from ariadne_cartograph_spark.operators.routing import edge_adjacency, shortest_paths
from ariadne_cartograph_spark.operators.topology import build_topology, routable_ways
from ariadne_cartograph_spark.sources.osm import read_osm_elements, split_elements
from tests.osm_census import bfs, graph, haversine_m, reach_census


@pytest.fixture(scope="module")
def topo_edges(spark, osm_fixture):
    t = split_elements(read_osm_elements(spark, osm_fixture))
    return (
        build_topology(t["nodes"], routable_ways(t["ways"]))["edges"]
        .localCheckpoint(eager=True)
    )


@pytest.fixture(scope="module")
def edge_list(topo_edges):
    return [
        (r.source, r.target, [(p.lng, p.lat) for p in r.geom])
        for r in topo_edges.select("source", "target", "geom").collect()
    ]


def test_bfs_hops_match_python(spark, topo_edges, edge_list):
    src = min(min(a, b) for a, b, _ in edge_list)
    bounded = bfs(graph((a, b) for a, b, _ in edge_list), src, 12)

    got = {
        r.node_id: r.hops
        for r in shortest_paths(edge_adjacency(topo_edges), [src], max_iter=12).collect()
    }
    assert got == bounded
    # the literals pinned in the osm_route_bfs_reach oracle
    assert max(bounded.values()) == 12
    assert reach_census(bounded) == (103, 812, 812837263)


@pytest.mark.slow
def test_weighted_matches_python_dijkstra(spark, topo_edges, edge_list):
    from ariadne_cartograph_spark.functions import geo

    src = min(min(a, b) for a, b, _ in edge_list)
    g = defaultdict(list)
    for a, b, geom in edge_list:
        w = sum(haversine_m(geom[i], geom[i + 1]) for i in range(len(geom) - 1))
        g[a].append((b, w))
        g[b].append((a, w))
    dist = {src: 0.0}
    pq = [(0.0, src)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, math.inf):
            continue
        for v, w in g[u]:
            nd = d + w
            if nd < dist.get(v, math.inf) - 1e-9:
                dist[v] = nd
                heapq.heappush(pq, (nd, v))

    # edge length = polyline haversine length, column-math twin of the
    # python weights above
    length = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.size("geom") - 1),
            lambda i: geo.haversine_m(
                F.element_at("geom", i)["lng"],
                F.element_at("geom", i)["lat"],
                F.element_at("geom", i + 1)["lng"],
                F.element_at("geom", i + 1)["lat"],
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    adj = edge_adjacency(topo_edges, weight=length)
    got = {
        r.node_id: r.dist
        for r in shortest_paths(adj, [src], max_iter=60).collect()
    }
    assert set(got) == set(dist)
    for k, v in dist.items():
        assert got[k] == pytest.approx(v, abs=1e-4), k


@pytest.mark.slow
def test_weighted_routing_with_class_costs(spark, topo_edges):
    """Routing over the REAL per-class cost model (edge_costs: travel
    seconds from the highway class carried onto every edge, oneway →
    reverse_cost -1) vs a pure-Python Dijkstra on the same cost table —
    the osm2pgrouting cost/reverse_cost consumption path."""
    from ariadne_cartograph_spark.operators.routing import arc_table
    from ariadne_cartograph_spark.operators.topology import edge_costs

    ec = edge_costs(topo_edges).localCheckpoint(eager=True)
    # class speeds actually differentiate edges (8 classes in fixture)
    n_speeds = (
        ec.select((F.col("length_m") / F.col("cost_s")).alias("mps"))
        .distinct()
        .count()
    )
    assert n_speeds > 1
    rows = ec.select("source", "target", "cost_s", "reverse_cost_s").collect()
    g = defaultdict(list)
    for r in rows:
        g[r.source].append((r.target, r.cost_s))
        if r.reverse_cost_s >= 0:
            g[r.target].append((r.source, r.reverse_cost_s))
    src = min(min(r.source, r.target) for r in rows)
    dist = {src: 0.0}
    pq = [(0.0, src)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, math.inf):
            continue
        for v, w in g[u]:
            nd = d + w
            if nd < dist.get(v, math.inf) - 1e-9:
                dist[v] = nd
                heapq.heappush(pq, (nd, v))

    got = {
        r.node_id: r.dist
        for r in shortest_paths(
            arc_table(ec).select("u", "v", "w"), [src], max_iter=60
        ).collect()
    }
    assert set(got) == set(dist)
    for k, v in dist.items():
        assert got[k] == pytest.approx(v, abs=1e-6), k


def _mini_arcs(spark, segs):
    """Bidirectional unit-cost arc table from (gid, way_id, u, v)."""
    rows = []
    for gid, way, u, v in segs:
        rows.append((gid * 2, gid, way, u, v, 1.0))
        rows.append((gid * 2 + 1, gid, way, v, u, 1.0))
    return spark.createDataFrame(
        rows, "arc_id long, gid long, way_id long, u long, v long, w double"
    )


def _restr(spark, rows):
    return spark.createDataFrame(
        rows, "relation_id long, restriction string, from_way long, "
        "via_node long, to_way long"
    )


def _run(arcs, restr, src, max_iter=20):
    from ariadne_cartograph_spark.operators.routing import (
        restricted_shortest_paths,
    )

    return {
        r.node_id: (r.dist, r.hops)
        for r in restricted_shortest_paths(arcs, restr, [src], max_iter).collect()
    }


#   1 --gid1/way100-- 2 --gid2/way200-- 3
#                     |                 |
#                 gid3/way300       gid4/way400
#                     |                 |
#                     4 ----------------+
_DIAMOND = [(1, 100, 1, 2), (2, 200, 2, 3), (3, 300, 2, 4), (4, 400, 4, 3)]


def test_no_turn_forces_detour(spark):
    """no_left_turn (way100 → way200 via node 2): node 3 must be
    reached around the block (3 hops), node 4 unaffected."""
    arcs = _mini_arcs(spark, _DIAMOND)
    unres = _run(arcs, _restr(spark, []), 1)
    assert unres[3] == (2.0, 2) and unres[4] == (2.0, 2)
    res = _run(
        arcs, _restr(spark, [(1, "no_left_turn", 100, 2, 200)]), 1
    )
    assert res[3] == (3.0, 3)  # 1-2-4-3
    assert res[4] == (2.0, 2)  # untouched


def test_only_turn_bans_everything_else(spark):
    """only_straight_on (way100 via 2 → way200): way300 departure is
    illegal, node 4 reached through 3."""
    arcs = _mini_arcs(spark, _DIAMOND)
    res = _run(
        arcs, _restr(spark, [(1, "only_straight_on", 100, 2, 200)]), 1
    )
    assert res[3] == (2.0, 2)
    assert res[4] == (3.0, 3)  # 1-2-3-4


def test_u_turn_reversal_semantics(spark):
    """from_way == to_way means "don't reverse onto the same segment",
    not "don't continue on the same way": an only_ trap makes the
    u-turn optimal (allowed without the restriction, node 4 reachable);
    adding no_u_turn at the trap's end makes node 4 unreachable."""
    # 1 -100- 2 -200- 3 ;  2 -300- 4 ; only way200 after way100 at 2
    segs = [(1, 100, 1, 2), (2, 200, 2, 3), (3, 300, 2, 4)]
    arcs = _mini_arcs(spark, segs)
    only = [(1, "only_straight_on", 100, 2, 200)]
    res = _run(arcs, _restr(spark, only), 1)
    # 1-2-3, reverse 3-2 on gid2 (u-turn at 3), 2-4 — arriving on
    # way200 at node 2 the only_ no longer applies
    assert res[4] == (4.0, 4)
    res_ut = _run(
        arcs,
        _restr(spark, only + [(2, "no_u_turn", 200, 3, 200)]),
        1,
    )
    assert 4 not in res_ut
    assert res_ut[3] == (2.0, 2)


def test_straight_through_same_way_not_banned_by_uturn(spark):
    """A way continuing through the via node: no_u_turn must NOT ban
    continuing straight on the same way (distinct segment, same way)."""
    # 1 -gid1/way100- 2 -gid2/way100- 3  (one way split at node 2)
    segs = [(1, 100, 1, 2), (2, 100, 2, 3)]
    arcs = _mini_arcs(spark, segs)
    res = _run(arcs, _restr(spark, [(1, "no_u_turn", 100, 2, 100)]), 1)
    assert res[3] == (2.0, 2)  # straight through is legal
    # but reversing at 2 back onto gid1 is not: node 1 only as source


def test_equal_dist_ties_keep_the_fewest_hops(spark):
    """Node 2 is reached at dist 2 both by the direct 1-hop edge 1-2
    (w 2) and by 1-3-2 (w 1 + 1): every search reports the 1-hop
    route, the lexicographic minimum of (dist, hops)."""
    from ariadne_cartograph_spark.operators.routing import shortest_path_matrix

    edges = spark.createDataFrame(
        [(1, 2, 2.0), (1, 3, 1.0), (3, 2, 1.0)], "source long, target long, w double"
    )
    adj = edge_adjacency(edges, weight=F.col("w"))
    got = {r.node_id: (r.dist, r.hops) for r in shortest_paths(adj, [1]).collect()}
    assert got[2] == (2.0, 1)
    m = {
        (r.src, r.node_id): (r.dist, r.hops)
        for r in shortest_path_matrix(adj, [1]).collect()
    }
    assert m[(1, 2)] == (2.0, 1)
    arcs = _mini_arcs(spark, [(1, 100, 1, 2), (2, 200, 1, 3), (3, 300, 3, 2)])
    arcs = arcs.withColumn("w", F.when(F.col("gid") == 1, 2.0).otherwise(F.col("w")))
    assert _run(arcs, _restr(spark, []), 1)[2] == (2.0, 1)


def test_fixture_restricted_matches_python_linegraph_dijkstra(
    spark, topo_edges, osm_fixture
):
    """Full-fixture parity: restricted_shortest_paths vs an independent
    pure-Python edge-based Dijkstra implementing the same OSM
    restriction semantics over the same arc table, sourced next to the
    no_left_turn via so restrictions genuinely engage."""
    from ariadne_cartograph_spark.operators.routing import (
        arc_table,
        restricted_shortest_paths,
    )
    from ariadne_cartograph_spark.operators.topology import (
        edge_costs,
        extract_turn_restrictions,
    )

    from ariadne_cartograph_spark.plans.geo_queries import OSC_RESTRICTION

    t = split_elements(read_osm_elements(spark, osm_fixture))
    restr_df = extract_turn_restrictions(t["relations"]).localCheckpoint(
        eager=True
    )
    arcs = arc_table(edge_costs(topo_edges)).localCheckpoint(eager=True)
    arc_rows = arcs.collect()
    restr = restr_df.collect()

    # source: tail of an arc on the no_left_turn's from_way
    from_way = next(r.from_way for r in restr if r.relation_id == OSC_RESTRICTION)
    src = min(
        r.u for r in arc_rows if r.way_id == from_way
    )

    out_arcs = defaultdict(list)
    for a in arc_rows:
        out_arcs[a.u].append(a)
    no_way = {
        (r.from_way, r.via_node, r.to_way)
        for r in restr
        if r.restriction.startswith("no_") and r.from_way != r.to_way
    }
    no_ut = {
        (r.from_way, r.via_node)
        for r in restr
        if r.restriction.startswith("no_") and r.from_way == r.to_way
    }
    only = {
        (r.from_way, r.via_node): r.to_way
        for r in restr
        if r.restriction.startswith("only_")
    }

    def py_linegraph(use_restrictions):
        dist = {}
        pq = []
        for a in out_arcs[src]:
            if a.w < dist.get(a.arc_id, math.inf):
                dist[a.arc_id] = a.w
                heapq.heappush(pq, (a.w, a.arc_id, a))
        while pq:
            d, aid, a = heapq.heappop(pq)
            if d > dist.get(aid, math.inf):
                continue
            for b in out_arcs[a.v]:
                if use_restrictions:
                    if (a.way_id, a.v, b.way_id) in no_way:
                        continue
                    if (a.way_id, a.v) in no_ut and b.gid == a.gid:
                        continue
                    o = only.get((a.way_id, a.v))
                    if o is not None and b.way_id != o:
                        continue
                nd = d + b.w
                if nd < dist.get(b.arc_id, math.inf) - 1e-12:
                    dist[b.arc_id] = nd
                    heapq.heappush(pq, (nd, b.arc_id, b))
        node = {src: 0.0}
        head = {a.arc_id: a.v for a in arc_rows}
        for aid, dd in dist.items():
            v = head[aid]
            if dd < node.get(v, math.inf):
                node[v] = dd
        return node

    want = py_linegraph(True)
    base = py_linegraph(False)
    # the restrictions must actually change something from this source
    assert any(
        abs(want[k] - base.get(k, math.inf)) > 1e-9 for k in want
    )

    got = {
        r.node_id: r.dist
        for r in restricted_shortest_paths(
            arcs, restr_df, [src], max_iter=80
        ).collect()
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-6), k


def test_cost_matrix_matches_per_source_runs(spark, topo_edges):
    """shortest_path_matrix (pgr_dijkstraCostMatrix analog) must equal
    K independent shortest_paths runs — per-source state, not the
    pooled min-dist shortest_paths computes for multi-source seeds."""
    from ariadne_cartograph_spark.operators.routing import (
        shortest_path_matrix,
    )

    adj = edge_adjacency(topo_edges).localCheckpoint(eager=True)
    vs = sorted({r.u for r in adj.select("u").distinct().limit(200).collect()})
    srcs = [vs[0], vs[50], vs[150]]
    got = {
        (r.src, r.node_id): (r.dist, r.hops)
        for r in shortest_path_matrix(adj, srcs, max_iter=8).collect()
    }
    for s in srcs:
        want = {
            (s, r.node_id): (r.dist, r.hops)
            for r in shortest_paths(adj, [s], max_iter=8).collect()
        }
        mine = {k: v for k, v in got.items() if k[0] == s}
        assert mine == want, s


def test_cost_matrix_census_literals(spark, edge_list):
    """Independent re-derivation of the osm_route_cost_matrix golden
    oracle: plain-Python BFS per source over the fixture topology."""
    g = graph((a, b) for a, b, _ in edge_list)
    srcs = sorted(set(g))[:3]
    want = {
        1000002: (76, 500, 500525280),
        1000005: (85, 544, 544493142),
        1000009: (95, 609, 609587557),
    }
    assert srcs == sorted(want)
    for s in srcs:
        assert reach_census(bfs(g, s, 10)) == want[s], s


@pytest.mark.slow
def test_tracked_route_reconstruction(spark, topo_edges):
    """pgr_dijkstra returns routes, not just costs: the tracked
    relaxation + batched backward walk must yield connected,
    cost-consistent paths whose totals equal the untracked dists."""
    from ariadne_cartograph_spark.operators.routing import (
        reconstruct_paths,
        shortest_paths_tracked,
    )
    from ariadne_cartograph_spark.operators.topology import edge_costs

    ec = edge_costs(topo_edges).localCheckpoint(eager=True)
    # directed cost adjacency carrying gid for route output
    fwd = ec.select(
        F.col("source").alias("u"), F.col("target").alias("v"),
        F.col("cost_s").alias("w"), F.col("gid").alias("edge_id"),
    )
    rev = ec.filter(F.col("reverse_cost_s") >= 0).select(
        F.col("target").alias("u"), F.col("source").alias("v"),
        F.col("reverse_cost_s").alias("w"), F.col("gid").alias("edge_id"),
    )
    adj = fwd.unionByName(rev).localCheckpoint(eager=True)
    rows = ec.select("gid", "source", "target", "cost_s", "reverse_cost_s").collect()
    src = min(min(r.source, r.target) for r in rows)

    tracked = shortest_paths_tracked(adj, [src], max_iter=40).localCheckpoint(
        eager=True
    )
    t_rows = {r.node_id: r for r in tracked.collect()}
    # pick 3 reached targets at different depths
    by_hops = sorted(t_rows.values(), key=lambda r: (r.hops, r.node_id))
    targets = [by_hops[1].node_id, by_hops[len(by_hops) // 2].node_id,
               by_hops[-1].node_id]
    paths = reconstruct_paths(tracked, targets)
    got = {}
    for r in paths.collect():
        got.setdefault(r.target, []).append(r)
    edge_w = {}
    for r in rows:
        edge_w[(r.gid, r.source, r.target)] = r.cost_s
        if r.reverse_cost_s >= 0:
            edge_w[(r.gid, r.target, r.source)] = r.reverse_cost_s
    for tgt in targets:
        seq = sorted(got[tgt], key=lambda r: r.seq)
        assert seq[0].node_id == src and seq[0].agg_cost == 0.0
        assert seq[0].arrived_by_edge is None
        assert seq[-1].node_id == tgt
        # agg_cost at the target equals the untracked dist
        assert seq[-1].agg_cost == pytest.approx(t_rows[tgt].dist, abs=1e-9)
        for a, b in zip(seq, seq[1:]):
            assert b.seq == a.seq + 1
            w = edge_w[(b.arrived_by_edge, a.node_id, b.node_id)]
            assert b.agg_cost == pytest.approx(a.agg_cost + w, abs=1e-9)


def test_reconstruct_paths_refuses_a_truncated_route(spark):
    """A route with more rows than ``max_iter`` raises instead of
    coming back without its source-side rows; exactly ``max_iter``
    rows is enough."""
    from ariadne_cartograph_spark.operators.routing import (
        reconstruct_paths,
        shortest_paths_tracked,
    )

    # path 1-2-3-4-5: the route to 5 has 4 hops, 5 rows
    edges = spark.createDataFrame(
        [(g, g, g + 1) for g in range(1, 5)], "gid long, source long, target long"
    )
    tracked = shortest_paths_tracked(edge_adjacency(edges, edge_id="gid"), [1])
    with pytest.raises(RuntimeError, match="max_iter=2"):
        reconstruct_paths(tracked, [5], max_iter=2)
    rows = sorted(
        (r.seq, r.node_id) for r in reconstruct_paths(tracked, [5], max_iter=5).collect()
    )
    assert rows == [(i, i + 1) for i in range(5)]


@pytest.mark.parametrize(
    "entry, max_jobs",
    [("osm_route_bfs_reach", 82), ("osm_route_cost_matrix", 72)],
)
def test_route_entry_builds_the_topology_once(spark, spark_jobs, entry, max_jobs):
    """A routing entry parses the XML once for the ways' refs and once
    for the nodes, in the one checkpoint of its edges: the source pick
    and the searches read that checkpoint, and no way attribute is
    joined. Parse nodes are counted in the final (adaptive) plans of
    every SQL execution the call and its collect run."""
    from ariadne_cartograph_spark.plans import geo_queries

    with spark_jobs() as probe:
        getattr(geo_queries, entry)(spark, "").collect()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    parse_nodes = 0
    for i in range(execs.size()):
        e = execs.apply(i)
        if not any(e.jobs().contains(j) for j in probe.jobs):
            continue
        nodes = store.planGraph(e.executionId()).allNodes()
        parse_nodes += sum(
            nodes.apply(k).name() == "MapInPandas" for k in range(nodes.size())
        )
    assert parse_nodes == 2
    assert len(probe.jobs) <= max_jobs


def test_pagerank_directed_sinks_get_rank(spark):
    """On a directed chain 1→2→3, vertex 3 has only incoming edges —
    it must still appear with accumulated rank (the r4 advice: a
    source-only vertex set silently dropped sinks and their mass)."""
    from ariadne_cartograph_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    rows = {r["node_id"]: r["pr"] for r in pagerank(edges, d=0.85, n_iter=5).collect()}
    assert set(rows) == {1, 2, 3}
    # rank flows downstream: the sink outranks the source
    assert rows[3] > rows[2] > rows[1]


def test_pagerank_mass_and_determinism(spark):
    from pyspark.sql import functions as F

    from ariadne_cartograph_spark.operators.graph import pagerank

    # small undirected path graph 1-2-3-4 (both directions supplied)
    pairs = [(1, 2), (2, 3), (3, 4)]
    edges = spark.createDataFrame(
        pairs + [(v, u) for u, v in pairs], "u long, v long"
    )
    pr = pagerank(edges, d=0.85, n_iter=10)
    rows = {r["node_id"]: r["pr"] for r in pr.collect()}
    # probability mass is conserved (no dangling nodes in an undirected graph)
    assert abs(sum(rows.values()) - 1.0) < 1e-5
    # symmetry of the path graph: ends equal, middles equal, middle > end
    assert abs(rows[1] - rows[4]) < 1e-6
    assert abs(rows[2] - rows[3]) < 1e-6
    assert rows[2] > rows[1]
    rows2 = {r["node_id"]: r["pr"] for r in
             pagerank(edges, d=0.85, n_iter=10).collect()}
    assert rows == rows2
