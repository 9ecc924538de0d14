"""The repository's seeded OSM fixture (sources/osm_fixture.py): the
generator is deterministic, writes what it says it wrote, carries the
element mix the OSM entries and tests rely on, and every literal
``osm_*`` oracle in plans/geo_queries.py equals a plain-Python census
or replay of the XML (tests/osm_census.py — no engine code)."""

from __future__ import annotations

import os
import re
import stat
import tempfile
import xml.etree.ElementTree as ET
from collections import Counter

import duckdb
import pytest

from ariadne_cartograph_spark.plans import geo_queries as G
from ariadne_cartograph_spark.sources.osm_fixture import ensure_osm_fixture, generate
from tests import osm_census as C


def test_generator_is_deterministic_and_counts_what_it_writes(osm_fixture):
    a, b = generate(), generate()
    assert a.data == b.data
    assert open(osm_fixture, "rb").read() == a.data
    assert ensure_osm_fixture() == osm_fixture  # cached under its digest
    root = ET.parse(osm_fixture).getroot()
    got = Counter(el.tag for el in root if el.tag in ("node", "way", "relation"))
    assert dict(got) == a.counts
    # several 1,000-element PBF blocks, within the real extract's size
    assert 3000 < sum(a.counts.values()) <= 7346


def test_fixture_file_is_checked_before_reuse(tmp_path, monkeypatch):
    """The fixture root has a fixed name under the temp directory, so a
    file planted under the expected name is rewritten with the true
    bytes, and a root others can write to is refused."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    root = tmp_path / "acs_osm_fixture"
    path = ensure_osm_fixture()
    assert os.path.dirname(path) == str(root)
    assert stat.S_IMODE(os.stat(root).st_mode) & 0o077 == 0
    with open(path, "wb") as f:
        f.write(b"<osm/>")
    assert ensure_osm_fixture() == path
    with open(path, "rb") as f:
        assert f.read() == generate().data
    os.chmod(root, 0o777)
    with pytest.raises(PermissionError, match=re.escape(str(root))):
        ensure_osm_fixture()
    os.chmod(root, 0o700)
    uid = os.getuid()
    monkeypatch.setattr(os, "getuid", lambda: uid + 1)  # another user's root
    with pytest.raises(PermissionError, match=re.escape(str(root))):
        ensure_osm_fixture()


def test_fixture_element_mix(osm_doc):
    d = osm_doc
    deletable = {"source", "created_by", "note"}
    referenced = {r for refs, _ in d.ways.values() for r in refs}
    # nodes: tagged, untagged, deletable-only, amenity POIs no way uses
    assert any(t for _, _, t in d.nodes.values())
    assert any(not t for _, _, t in d.nodes.values())
    assert any(t and set(t) <= deletable for _, _, t in d.nodes.values())
    pois = [n for n, (_, _, t) in d.nodes.items() if "amenity" in t]
    assert pois and not set(pois) & referenced
    # open highway ways: classes, shared interior nodes, dead ends
    hw = {w: (refs, t) for w, (refs, t) in d.ways.items() if "highway" in t}
    classes = {t["highway"] for _, t in hw.values()}
    assert len(classes) >= 8
    assert {"pedestrian", "path", "footway", "steps", "tertiary"} <= classes
    occ = Counter(r for refs, _ in hw.values() for r in refs)
    assert any(occ[r] > 1 for refs, _ in hw.values() for r in refs[1:-1])
    assert any(occ[refs[-1]] == 1 for refs, _ in hw.values())
    assert any(t.get("oneway") == "yes" for _, t in hw.values())
    speeds = [t.get("maxspeed") for _, t in hw.values()]
    assert any(s is None for s in speeds)
    assert all(s.endswith(" mph") for s in speeds if s is not None)
    assert any("name" in t and len(refs) >= 5 for refs, t in hw.values())
    # closed ways
    closed = [t for refs, t in d.ways.values() if C.is_closed(refs)]
    assert any("building" in t and "addr:housenumber" in t for t in closed)
    assert any(t.get("area") == "yes" for t in closed)
    assert any(t.get("area") == "no" for t in closed)
    assert any("amenity" in t for t in closed)
    # relations
    mps = [m for m, t in d.relations.values() if t["type"] == "multipolygon"]
    inners = [[ref for mt, ref, role in m if role == "inner"] for m in mps]
    assert any(len(i) == 1 and i[0] in d.ways for i in inners)
    assert any(len(i) == 2 and set(i) <= set(d.ways) for i in inners)
    assert any(i and i[0] not in d.ways for i in inners)  # inner way missing
    assert any(  # an outer ring stitched from open ways
        not C.is_closed(d.ways[ref][0])
        for m in mps for mt, ref, role in m if role == "outer"
    )
    restr = {t["restriction"] for m, t in d.relations.values() if t["type"] == "restriction"}
    assert {"no_left_turn", "only_right_turn", "no_u_turn"} <= restr
    for members, t in d.relations.values():
        if t.get("restriction") == "no_u_turn":
            way_refs = {role: ref for mt, ref, role in members if mt == "way"}
            assert way_refs["from"] == way_refs["to"]
    routes = [m for m, t in d.relations.values() if t.get("type") == "route"]
    assert any({mt for mt, _, _ in m} == {"way", "node"} for m in routes)
    roles = {role for m in routes for _, _, role in m}
    assert {"forward", "backward"} <= roles
    masters = [m for m, t in d.relations.values() if t.get("type") == "route_master"]
    assert masters
    for m in masters:
        for mt, ref, _ in m:
            assert mt == "relation" and d.relations[ref][1]["type"] == "route"


def test_changeset_ids_name_their_roles(osm_doc):
    """The literal ids the catalog's changesets act on are the roles
    the generator wrote, and each plays its stated part."""
    d, roles = osm_doc, generate().roles
    assert G.OSC_RETAGGED_WAY == roles["retagged_way"]
    assert G.OSC_RETAGGED_WAY_REFS == roles["retagged_way_refs"]
    assert G.OSC_MOVED_NODES == roles["moved_nodes"]
    assert G.OSC_DELETED_AMENITY_NODES == roles["deleted_amenity_nodes"]
    assert G.OSC_MODIFY_THEN_DELETE_NODE == roles["modify_then_delete_node"]
    assert G.OSC_RESTRICTION == roles["restriction"]
    assert G.OSC_MULTIPOLYGON == roles["multipolygon"]
    assert G.OSC_MULTIPOLYGON_WAY == roles["multipolygon_way"]
    assert G.OSC_DELETED_ROUTE == roles["deleted_route"]
    assert G.OSC_CASCADED_WAY == roles["cascaded_way"]

    referenced = {r for refs, _ in d.ways.values() for r in refs}
    members = {(mt, ref) for m, _ in d.relations.values() for mt, ref, _ in m}
    refs, tags = d.ways[G.OSC_RETAGGED_WAY]
    assert tags["highway"] == "residential" and "name" in tags and len(refs) >= 6
    assert tuple(refs[:5]) == G.OSC_RETAGGED_WAY_REFS
    moved_ways = {w for w, (r, _) in d.ways.items() if set(G.OSC_MOVED_NODES) & set(r)}
    assert len(moved_ways) == 1 and G.OSC_RETAGGED_WAY not in moved_ways
    for n in (*G.OSC_DELETED_AMENITY_NODES, G.OSC_MODIFY_THEN_DELETE_NODE):
        assert n in d.nodes and n not in referenced and ("node", n) not in members
    for n in G.OSC_DELETED_AMENITY_NODES:
        assert "amenity" in d.nodes[n][2]
    for i in (*G.OSC_NEW_NODES, G.OSC_CREATE_THEN_MODIFY_NODE):
        assert i not in d.nodes
    assert G.OSC_NEW_WAY not in d.ways
    m, t = d.relations[G.OSC_RESTRICTION]
    assert t["restriction"] == "no_left_turn"
    assert ("way", G.OSC_RETAGGED_WAY, "to") in m
    assert ("node", G.OSC_RETAGGED_WAY_REFS[0], "via") in m
    m, t = d.relations[G.OSC_MULTIPOLYGON]
    assert t["type"] == "multipolygon" and ("way", G.OSC_MULTIPOLYGON_WAY, "outer") in m
    assert len([r for _, _, r in m if r == "inner"]) == 1
    assert ("way", G.OSC_MULTIPOLYGON_WAY) not in {
        (mt, ref) for rid, (mm, _) in d.relations.items() if rid != G.OSC_MULTIPOLYGON
        for mt, ref, _ in mm
    }
    assert d.relations[G.OSC_DELETED_ROUTE][1]["type"] == "route"
    assert any(
        ("relation", G.OSC_DELETED_ROUTE, "") in mm
        for mm, tt in d.relations.values() if tt["type"] == "route_master"
    )
    assert "building" in d.ways[G.OSC_CASCADED_WAY][1]
    assert ("way", G.OSC_CASCADED_WAY) not in members


# ---------------------------------------------------------------------------
# Every literal osm_* oracle, recomputed from the XML
# ---------------------------------------------------------------------------

def _ingest(d):
    return sorted(C.feature_counts(d).items())


def _style(d):
    from ariadne_cartograph_spark.sources.style import default_style_rules

    rules = default_style_rules()
    deleted = {r.tag for r in rules if r.is_deleted}
    poly = {r.tag for r in rules if r.is_polygon and r.applies_to("way")}
    return sorted(C.feature_counts(d, deleted, poly).items())


def _topology(d):
    e = C.topology(d)
    return [(
        len(e), len({x.way_id for x in e}), len({x.source for x in e}),
        len({x.target for x in e}), sum(len(x.geom) for x in e),
        sum(x.source for x in e), len({x.tags["highway"] for x in e}),
        len({x.way_id for x in e if x.tags.get("oneway") in C.ONEWAY}),
        len({x.way_id for x in e if "name" in x.tags}),
    )]


def _tag_index(d):
    res = [w for w, (_, t) in d.ways.items() if t.get("highway") == "residential"]
    return [(
        len(res), sum(res),
        sum(1 for _, t in d.ways.values() if "amenity" in t),
        sum(1 for _, t in d.ways.values() if "building" in t),
    )]


def _mapconfig(d):
    from ariadne_cartograph_spark.sources.mapconfig import DEFAULT_MAPCONFIG_XML

    return [
        ("pedestrian", *C.mapconfig_census(d, G.PEDESTRIAN_MAPCONFIG_XML)),
        ("stock", *C.mapconfig_census(d, DEFAULT_MAPCONFIG_XML)),
    ]


def _diff(d):
    patched, net = C.apply_osc(d, G.EXAMPLE_OSC_XML)
    touched = {i for (k, i) in net if k == "node"}
    affected = {i for (k, i) in net if k == "way"} | {
        w for w, (refs, _) in patched.ways.items() if touched & set(refs)
    }
    rebuilt = [w for w in affected if w in patched.ways]
    return [(
        len(affected), len(rebuilt),
        sum(1 for (k, _), op in net.items() if k == "way" and op == "delete"),
        0, len(patched.nodes), len(patched.ways),
        sum(len(patched.geom(patched.ways[w][0])) for w in rebuilt), sum(affected),
    )]


def _poi(d):
    pois = [(n, lon, lat) for n, (lat, lon, t) in d.nodes.items() if "amenity" in t]
    hit = C.nearest_edges(pois, C.topology(d))
    gids = [g for g in hit.values() if g is not None]
    return [(len(pois), len(gids), len(set(gids)), sum(hit), sum(gids))]


def _route_members(d):
    out = []
    for rid, (members, t) in sorted(d.relations.items()):
        if t.get("type") in ("route", "route_master"):
            out.append((rid, t["type"], t.get("route", t.get("route_master")),
                        t.get("ref"), len(members), sum(r for _, r, _ in members)))
    return out


def _restrictions(d):
    out = []
    for rid, (members, t) in sorted(d.relations.items()):
        if t.get("type") == "restriction":
            first = lambda mt, role: next(  # noqa: E731
                r for k, r, ro in members if k == mt and ro == role
            )
            out.append((rid, t["restriction"], first("way", "from"),
                        first("node", "via"), first("way", "to")))
    return out


def _enrichment(d):
    from ariadne_cartograph_spark.operators.enrich import GMAPS_GREENERY_PROVIDER

    ways = [(w, d.geom(refs)) for w, (refs, t) in d.ways.items() if "highway" in t]
    got = C.oracle_enrich(ways, GMAPS_GREENERY_PROVIDER)
    rows = {}
    for gid, v in got.items():
        n, s, q, nn = rows.get(gid % 10, (0, 0, 0, 0))
        rows[gid % 10] = (n + 1, s + gid, q + int(C.round_half_up(v * 1e6)), nn + 1)
    return [(g, *rows[g]) for g in sorted(rows)]


def _cost_matrix(d):
    g = C.graph((e.source, e.target) for e in C.topology(d))
    return [(s, *C.reach_census(C.bfs(g, s, 10))) for s in sorted(g)[:3]]


def _bfs_reach(d):
    edges = C.topology(d)
    src = min(min(e.source, e.target) for e in edges)
    reached = C.bfs(C.graph((e.source, e.target) for e in edges), src, 12)
    n, total, checksum = C.reach_census(reached)
    return [(n, max(reached.values()), total, checksum)]


def _tag_frequency(d):
    n = Counter(k for t in d.all_tags() for k in t)
    return sorted(n.items(), key=lambda kv: (-kv[1], kv[0]))[:12]


def _way_area(d):
    areas = [(i, C.round_half_up(a, 1)) for i, a in C.polygon_areas(d).items()]
    return sorted(areas, key=lambda r: (-r[1], r[0]))[:10]


def _replication(d):
    """The combined changeset of geo_queries._replication_census
    replayed on dicts: the final stores, both reverse indexes and the
    metadata table (one row per bootstrapped way, cascaded)."""
    r0, r1 = G.OSC_RETAGGED_WAY_REFS[:2]
    osc = f"""<osmChange version="0.6">
      <modify>
        <way id="{G.OSC_RETAGGED_WAY}"><nd ref="{r0}"/><nd ref="{r1}"/>
          <tag k="highway" v="tertiary"/></way>
        <relation id="{G.OSC_RESTRICTION}">
          <member type="way" ref="{G.OSC_RETAGGED_WAY}" role="to"/>
          <tag k="type" v="restriction"/></relation>
      </modify>
      <delete><way id="{G.OSC_CASCADED_WAY}"/><relation id="{G.OSC_MULTIPOLYGON}"/></delete>
      <create>
        <relation id="910000001">
          <member type="way" ref="{G.OSC_RETAGGED_WAY}" role=""/>
          <tag k="type" v="route"/></relation>
      </create>
    </osmChange>"""
    p, _ = C.apply_osc(d, osc)
    node_keys = {r for refs, _ in p.ways.values() for r in refs}
    member_keys = {(mt, ref) for m, _ in p.relations.values() for mt, ref, _ in m}
    return [(
        len(p.relations), sum(p.relations), len(node_keys) + len(member_keys), 0, 0,
        len(p.ways), sum(len(p.geom(refs)) for refs, _ in p.ways.values()),
        len(p.relations), sum(len(m) for m, _ in p.relations.values()),
        len(p.ways), 0,
    )]


CENSUS = {
    "osm_ingest_feature_tables": _ingest,
    "osm_ingest_pbf_parity": _ingest,
    "osm_style_feature_tables": _style,
    "osm_topology_edges": _topology,
    "scan_tag_index_pruned": _tag_index,
    "osm_topology_mapconfig": _mapconfig,
    "osm_diff_incremental_parity": _diff,
    "osm_poi_nearest_edge": _poi,
    "osm_route_members": _route_members,
    "osm_turn_restrictions": _restrictions,
    "osm_ways_enrichment_fixture": _enrichment,
    "osm_route_cost_matrix": _cost_matrix,
    "osm_route_bfs_reach": _bfs_reach,
    "osm_tag_key_frequency": _tag_frequency,
    "osm_polygon_way_area": _way_area,
    "osm_replication_pipeline_parity": _replication,
}


def test_every_fixture_entry_has_a_census():
    """Every catalog entry that reads the fixture is recomputed below."""
    import inspect

    from ariadne_cartograph_spark.plans.catalog import REGISTRY, get_queries

    get_queries()
    readers = {
        n for n, e in REGISTRY.items()
        if "_osm_path()" in inspect.getsource(e.fn)
        or n == "osm_replication_pipeline_parity"
    }
    assert readers == set(CENSUS)


@pytest.mark.parametrize("name", sorted(CENSUS))
def test_oracle_literal_equals_census(name, osm_doc):
    from ariadne_cartograph_spark.plans.catalog import REGISTRY, get_queries

    get_queries()
    literal = [tuple(r) for r in duckdb.sql(REGISTRY[name].oracle).fetchall()]
    assert literal == [tuple(r) for r in CENSUS[name](osm_doc)]
