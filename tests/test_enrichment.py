"""End-to-end enrichment vs a pure-Python oracle
(tests/osm_census.oracle_enrich) that re-implements the reference
algorithm literally (SURVEY.md §5.2 item 2): same
projection math, same tile values (closed-form synthetic), same
np.median + global-max normalize. Run on the deterministic street grid
of conftest.py."""

from __future__ import annotations

import pytest

from ariadne_cartograph_spark.operators.enrich import (
    GMAPS_GREENERY_PROVIDER,
    STRAVA_PROVIDER,
    Provider,
    enrich_ways,
    explode_way_coords,
)
from ariadne_cartograph_spark.operators.merge import ParquetMergeTable, merge_into
from ariadne_cartograph_spark.update_ways_metadata import load_ways
from tests.osm_census import oracle_enrich


@pytest.fixture(scope="module")
def ways_df(spark, street_grid):
    return load_ways(spark, street_grid.path).cache()


@pytest.fixture(scope="module")
def ways_local(ways_df):
    return [
        (r.gid, [(p.lng, p.lat) for p in r.geom]) for r in ways_df.collect()
    ]


@pytest.mark.parametrize("provider", [STRAVA_PROVIDER, GMAPS_GREENERY_PROVIDER],
                         ids=["strava_gray_z12", "gmaps_greenery_z15"])
def test_enrichment_matches_reference_oracle(spark, ways_df, ways_local, provider):
    got = {
        r.gid: r[provider.name] for r in enrich_ways(spark, ways_df, [provider]).collect()
    }
    want = oracle_enrich(ways_local, provider)
    assert set(got) == set(want)
    for gid in want:
        assert got[gid] == pytest.approx(want[gid], abs=1e-12), gid


def test_merge_upsert_semantics(spark, tmp_path):
    t = ParquetMergeTable(spark, str(tmp_path / "ways_metadata"), key="gid")
    pop = spark.createDataFrame([(1, 0.5), (2, 0.7)], "gid long, popularity double")
    t.upsert(pop)
    green = spark.createDataFrame([(2, 0.9), (3, 0.1)], "gid long, greenery double")
    t.upsert(green)
    rows = {r.gid: (r.popularity, r.greenery) for r in t.read().collect()}
    # insert + per-column update: gid2 keeps popularity, gains greenery
    assert rows == {1: (0.5, None), 2: (0.7, 0.9), 3: (None, 0.1)}
    # second popularity run updates in place (ON CONFLICT DO UPDATE)
    t.upsert(spark.createDataFrame([(1, 0.95)], "gid long, popularity double"))
    rows = {r.gid: (r.popularity, r.greenery) for r in t.read().collect()}
    assert rows[1] == (0.95, None) and rows[2] == (0.7, 0.9)


def test_merge_into_no_existing(spark):
    up = spark.createDataFrame([(1, 0.5)], "gid long, v double")
    assert merge_into(None, up, "gid").collect()[0].v == 0.5


def test_all_zero_tiles_normalize_to_nan(spark):
    """Pinned deviation edge case (SURVEY.md §7): when every sampled
    value is 0 the global max is 0 and normalization divides 0/0 — the
    reference's numpy would produce NaN; the engine matches instead of
    crashing or silently zeroing."""
    import math as _m

    prov = Provider(
        name="zeroed", zoom=3, tile_size=8, mode="L", value_kind="gray",
        tile_source=lambda z, x, y: bytes(8 * 8),
    )
    ways = spark.createDataFrame(
        [(1, [(-118.12, 34.14), (-118.11, 34.13)]), (2, [(13.4, 52.52)])],
        "gid long, geom array<struct<lng:double,lat:double>>",
    )
    got = {r.gid: r.zeroed for r in enrich_ways(spark, ways, [prov]).collect()}
    assert set(got) == {1, 2}
    assert all(_m.isnan(v) for v in got.values()), got


def test_shared_coords_pinned_equal(spark, ways_df):
    """The one-pass multi-provider path (update_ways_metadata.run
    enriches every provider in one plan over a coordinate frame
    materialized once) must be row-identical to the single-provider,
    unshared path, per provider — the fusion and the share are
    physical reuse, never a semantic one."""
    coords = explode_way_coords(ways_df).localCheckpoint(eager=True)
    both = [STRAVA_PROVIDER, GMAPS_GREENERY_PROVIDER]
    fused = [
        {r.gid: r for r in enrich_ways(spark, ways_df, both, coords=c).collect()}
        for c in (None, coords)
    ]
    for provider in both:
        solo = {
            r.gid: r[provider.name]
            for r in enrich_ways(spark, ways_df, [provider]).collect()
        }
        shared = {
            r.gid: r[provider.name]
            for r in enrich_ways(spark, ways_df, [provider], coords=coords).collect()
        }
        assert solo == shared
        for rows in fused:
            assert {g: r[provider.name] for g, r in rows.items()} == solo
        assert solo  # non-vacuous
