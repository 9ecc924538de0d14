"""End-to-end enrichment vs a pure-Python oracle that re-implements
the reference algorithm literally (SURVEY.md §5.2 item 2): same
projection math, same tile values (closed-form synthetic), same
np.median + global-max normalize. Run on the deterministic street grid
of conftest.py."""

from __future__ import annotations

import math

import numpy as np
import pytest

from ariadne_cartograph_spark.operators.enrich import (
    GMAPS_GREENERY_PROVIDER,
    STRAVA_PROVIDER,
    Provider,
    enrich_ways,
    explode_way_coords,
)
from ariadne_cartograph_spark.operators.merge import ParquetMergeTable, merge_into
from ariadne_cartograph_spark.sources.tiles import synth_tile_array
from ariadne_cartograph_spark.update_ways_metadata import load_ways


# ---- pure-python reference re-implementation (the oracle) -----------------

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


def _oracle_enrich(ways, provider: Provider):
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
    want = _oracle_enrich(ways_local, provider)
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
