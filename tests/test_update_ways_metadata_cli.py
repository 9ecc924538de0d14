"""The reference's top-level script surface
(`/root/reference/update_ways_metadata.py:128-144`) as a Spark CLI:
ways import → per-provider median/normalize → one ON-CONFLICT upsert
of every provider's column into ways_metadata."""

from __future__ import annotations

import dataclasses
import math

import pytest
from pyspark.sql import functions as F

from ariadne_cartograph_spark.functions.geo import lnglat_to_tile_pixel
from ariadne_cartograph_spark.operators.merge import ParquetMergeTable
from ariadne_cartograph_spark.update_ways_metadata import PROVIDERS, load_ways, run

@pytest.fixture(scope="module")
def ways(spark, street_grid):
    return load_ways(spark, street_grid.path).localCheckpoint(eager=True)


def test_load_ways_is_the_routable_import(spark, osm_fixture):
    # the reference's `ways` IS osm2pgrouting's edge table: same census
    # (osm_topology_edges' 785 edges on the seeded fixture)
    ways = load_ways(spark, f"osm:{osm_fixture}")
    assert ways.count() == 785
    assert set(ways.columns) == {"gid", "geom"}


def test_load_ways_parses_the_xml_twice(spark, osm_fixture, spark_jobs):
    """The import scans the parsed XML once for the ways' refs and once
    for the nodes, and nothing else: the edge table it returns needs
    no way attributes. It shuffles once per key (node_id, way_id), so
    one collect runs two shuffle-map jobs and the result job."""
    ways = load_ways(spark, f"osm:{osm_fixture}")
    with spark_jobs() as probe:
        ways.collect()  # also finalizes the adaptive plan
    assert len(probe.jobs) == 3
    plan = spark._jvm.PythonSQLUtils.explainString(ways._jdf.queryExecution(), "simple")
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("MapInPandas") == 2


def test_run_mirrors_reference_main(spark, ways, street_grid, tmp_path):
    """reference main(): strava → popularity, gmaps → greenery, upserted
    ON CONFLICT; values normalized to [0,1] by the global max median
    (so max == 1.0 exactly)."""
    n = street_grid.n_ways
    out = str(tmp_path / "wm")
    written = run(spark, ways, out, ["strava", "gmaps"], n_buckets=4)
    assert written == {"popularity": n, "greenery": n}
    t = ParquetMergeTable(spark, out, key="gid", n_buckets=4)
    rows = t.read().collect()
    assert len(rows) == n
    pops = [r.popularity for r in rows]
    greens = [r.greenery for r in rows]
    for vals in (pops, greens):
        finite = [v for v in vals if v is not None and not math.isnan(v)]
        assert finite and max(finite) == pytest.approx(1.0)
        assert all(0.0 <= v <= 1.0 for v in finite)


def test_per_column_upsert_preserves_other_columns(spark, ways, tmp_path):
    """Re-running one provider (the reference's per-column ON CONFLICT
    DO UPDATE SET {col}) must not clobber the other's column."""
    out = str(tmp_path / "wm2")
    run(spark, ways, out, ["strava"])
    run(spark, ways, out, ["gmaps"])
    t = ParquetMergeTable(spark, out, key="gid")
    first = {r.gid: (r.popularity, r.greenery) for r in t.read().collect()}
    run(spark, ways, out, ["gmaps"])  # gmaps again
    second = {r.gid: (r.popularity, r.greenery) for r in t.read().collect()}
    assert first == second  # idempotent re-enrichment, popularity intact
    assert all(p is not None for p, _ in first.values())
    # one fused run writes the same table as the two single runs
    both = str(tmp_path / "wm2_both")
    run(spark, ways, both, ["gmaps", "strava"])
    fused = ParquetMergeTable(spark, both, key="gid").read()
    assert {r.gid: (r.popularity, r.greenery) for r in fused.collect()} == first


def test_unknown_provider_rejected(spark, ways, tmp_path):
    out = str(tmp_path / "wm3")
    with pytest.raises(ValueError, match="unknown provider"):
        run(spark, ways, out, ["strava", "bing"])
    # validated before any work: the known provider was not committed
    assert ParquetMergeTable(spark, out, key="gid").history() == []
    assert set(PROVIDERS) == {"strava", "strava_highres", "gmaps"}


def test_url_for_a_provider_not_in_the_run_rejected(spark, ways, tmp_path):
    """A misspelt ``--url`` key must not quietly run offline."""
    out = str(tmp_path / "wm_url")
    with pytest.raises(ValueError, match="'stava'"):
        run(spark, ways, out, ["strava"], url_templates={"stava": "http://x/${z}/${x}/${y}"})
    assert ParquetMergeTable(spark, out, key="gid").history() == []


def test_two_provider_run_jobs(spark, ways, tmp_path, spark_jobs, monkeypatch):
    """One two-provider insert: the coords checkpoint, the enrichment
    whose row count fills its lazy checkpoint, then the upsert, and no
    job after the commit. An eager checkpoint adds a job."""
    sc = spark.sparkContext
    upsert, committed = ParquetMergeTable.upsert, []

    def recording(self, *args, **kwargs):
        out = upsert(self, *args, **kwargs)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        group = sc.getLocalProperty("spark.jobGroup.id")
        committed.extend(sc.statusTracker().getJobIdsForGroup(group))
        return out

    monkeypatch.setattr(ParquetMergeTable, "upsert", recording)
    with spark_jobs() as probe:
        run(spark, ways, str(tmp_path / "wm_jobs"), ["strava", "gmaps"])
    assert len(probe.jobs) == 10
    assert sorted(committed) == probe.jobs


def test_duplicate_provider_names_enrich_once(spark, ways, street_grid, tmp_path):
    out = str(tmp_path / "wm_dup")
    assert run(spark, ways, out, ["strava", "strava"]) == {"popularity": street_grid.n_ways}
    t = ParquetMergeTable(spark, out, key="gid")
    assert len(t.history()) == 1
    assert t.read().columns == ["gid", "popularity"]


def test_no_providers_commits_nothing(spark, ways, tmp_path):
    out = str(tmp_path / "wm_none")
    assert run(spark, ways, out, []) == {}
    assert ParquetMergeTable(spark, out, key="gid").history() == []


def test_one_commit_per_run(spark, ways, tmp_path):
    """Every provider of one run lands in one table version."""
    out = str(tmp_path / "wm_commit")
    t = ParquetMergeTable(spark, out, key="gid")
    run(spark, ways, out, ["strava"])
    before = t.history()
    run(spark, ways, out, ["strava", "gmaps"])
    after = t.history()
    assert len(before) == 1 and len(after) == 2 and after[0] == before[0]


def test_failing_tile_source_leaves_table_unchanged(spark, ways, tmp_path, monkeypatch):
    """A provider whose tile source raises fails the whole run before
    the commit: the table stays at its previous version."""
    out = str(tmp_path / "wm_fail")
    run(spark, ways, out, ["strava"])
    t = ParquetMergeTable(spark, out, key="gid")
    before = t.history()
    rows = sorted(t.read().collect())

    def boom(z, x, y):
        raise RuntimeError("tile service down")

    column, prov = PROVIDERS["gmaps"]
    monkeypatch.setitem(PROVIDERS, "gmaps", (column, dataclasses.replace(prov, tile_source=boom)))
    with pytest.raises(Exception, match="tile service down"):
        run(spark, ways, out, ["strava", "gmaps"])
    assert t.history() == before
    assert sorted(t.read().collect()) == rows


def test_enrichment_lineage_executes_once_per_provider(spark, ways, street_grid, tmp_path, monkeypatch):
    """run() must materialize the enrichment exactly once
    (localCheckpoint) — upsert's bucket census + merged write + the
    row count would otherwise re-execute the whole sampling lineage
    (tile fetches included) three times. Pinned by an accumulator
    inside the tile-keyed sampler: with one physical execution it
    counts each distinct (provider, tile) pair exactly once."""
    from ariadne_cartograph_spark.operators import enrich as enrich_mod

    acc = spark.sparkContext.accumulator(0)
    inner = enrich_mod._sample_values

    def counting(pixels, tile, value_kind, tile_size, mode):
        acc.add(1)
        return inner(pixels, tile, value_kind, tile_size, mode)

    monkeypatch.setattr(enrich_mod, "_sample_values", counting)
    out = str(tmp_path / "wm_once")
    written = run(spark, ways, out, ["strava", "gmaps"], n_buckets=4)
    n = street_grid.n_ways
    assert written == {"popularity": n, "greenery": n}
    # independent census of the sampler's group count (distinct tiles
    # touched by the fixture at each provider's zoom)
    coords = ways.select(F.explode("geom").alias("pt")).select(
        F.col("pt.lng").alias("lng"), F.col("pt.lat").alias("lat")
    )
    n_tiles = 0
    for name in ("strava", "gmaps"):
        prov = PROVIDERS[name][1]
        tx, ty, _, _ = lnglat_to_tile_pixel("lng", "lat", prov.zoom, prov.tile_size)
        n_tiles += coords.select(tx.alias("x"), ty.alias("y")).distinct().count()
    assert n_tiles > 2
    # one sampler call per (provider, tile) per physical execution; the
    # bug this pins (upsert + count re-running the lineage) would
    # triple it
    assert acc.value == n_tiles
