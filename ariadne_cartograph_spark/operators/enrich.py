"""Raster-tile enrichment dataflow (SURVEY.md §3 E1) — the reference's
signature pipeline (`/root/reference/update_ways_metadata.py:12-35`)
re-expressed as one lazy DataFrame plan over every requested provider:

    ways(gid, geom)
      → posexplode vertices                      (P4)
      → per provider p: Web-Mercator + tile/pixel at p's zoom, native
        math, tagged with the literal index p    (P5, P6 — no UDF)
      → union, distinct (p, z, x, y, px, py)     (S2/S3/J2: the dict
        cache becomes dedup + join back — pure dataflow)
      → one grouped applyInPandas per (p, z, x, y) tile: fetch the
        tile inside its group, decode it ONCE, numpy-sample all its
        pixels                                   (P7/P9: the reference
        decodes once but samples scalar-ly)
      → exact median per way and provider        (A1: percentile, not
        approx — np.median parity)
      → global max per provider → broadcast-normalize (A2/A3: crossJoin
        of a 1-row aggregate, no single-partition window)

Boundaries that were process hops in the reference (DB cursor, HTTP,
dict) are shuffles here; the only Python is the Arrow-batched pixel
sampler, which is O(distinct tiles) not O(vertices), and it runs as
one stage however many providers a call asks for.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import lnglat_to_tile_pixel
from ..sources.tiles import decode_tile, synth_tile_array


@dataclass
class Provider:
    """The reference's CachedTiledDataProvider as plan configuration
    (`dataproviders.py:59-69`): URL/template is replaced by a per-tile
    fetch function ``tile_source(z, x, y) → bytes | None`` (default:
    the closed-form synthetic tile); value_fn by a named vectorized
    sampler (U1/U2 extension point)."""

    name: str
    mode: str  # 'L' | 'RGB'
    zoom: int = 12
    tile_size: int = 256
    value_kind: str = "gray"  # 'gray' | 'greenery_abs' | 'greenery_rel'
    tile_source: Callable[[int, int, int], bytes | None] | None = None


STRAVA_PROVIDER = Provider(name="strava_popularity", mode="L", zoom=12, value_kind="gray")
STRAVA_HIGHRES_PROVIDER = Provider(
    # defined-but-not-wired in the reference (update_ways_metadata.py:138)
    name="strava_popularity_highres", mode="L", zoom=15, tile_size=512, value_kind="gray"
)
GMAPS_GREENERY_PROVIDER = Provider(
    name="gmaps_greenery", mode="RGB", zoom=15, value_kind="greenery_abs"
)


def _box_sums(plane: np.ndarray, x0, x1, y0, y1) -> np.ndarray:
    """Sum of ``plane`` over each [y0:y1, x0:x1] box via one integral
    image (exact int64 math — bitwise-identical to crop.sum()): the
    per-sample cost is 4 lookups instead of a 21×21 crop reduction."""
    ii = np.zeros((plane.shape[0] + 1, plane.shape[1] + 1), dtype=np.int64)
    np.cumsum(np.cumsum(plane, axis=0, dtype=np.int64), axis=1, out=ii[1:, 1:])
    return ii[y1, x1] - ii[y0, x1] - ii[y1, x0] + ii[y0, x0]


def _sample_values(
    pixels: pd.DataFrame, tile: bytes | None, value_kind: str, tile_size: int, mode: str
) -> pd.DataFrame:
    """Vectorized per-tile sampler: ``pixels`` holds the DISTINCT
    (p,z,x,y,px,py) rows of ONE tile; ``tile`` is that tile's bytes
    (None if the fetch failed → NaN, P11)."""
    px = pixels["px"].to_numpy()
    py = pixels["py"].to_numpy()
    if tile is None:
        vals = np.full(len(pixels), np.nan)
    else:
        arr = decode_tile(tile, mode, tile_size)
        if value_kind == "gray":
            # reference strava_value: img.getpixel((x,y))/255
            # (update_ways_metadata.py:64-65)
            vals = arr[py, px].astype(np.float64) / 255.0
        elif value_kind in ("greenery_abs", "greenery_rel"):
            # reference greenery_value_absolute (update_ways_metadata.py:109-118):
            # 21x21 crop clipped to tile edges, reduced to a mean. A
            # crop mean is a box sum / area, so the whole batch rides
            # integral images (one cumsum per needed plane per tile)
            # instead of a Python loop over samples — O(tile + samples)
            # not O(samples × 441), exact int64 → same float64 results.
            x0, y0 = np.maximum(0, px - 10), np.maximum(0, py - 10)
            x1 = np.minimum(tile_size, px + 10)
            y1 = np.minimum(tile_size, py + 10)
            area = ((x1 - x0) * (y1 - y0)).astype(np.float64)
            a64 = arr.astype(np.int64)
            r, g, b = a64[..., 0], a64[..., 1], a64[..., 2]
            if value_kind == "greenery_abs":
                # fraction of green-dominant px: clip(min(g-r,g-b),0,1)
                ind = np.clip(np.minimum(g - r, g - b), 0, 1)
                vals = _box_sums(ind, x0, x1, y0, y1) / area
            else:
                # greenery_value_relative — defined but UNWIRED in the
                # reference (update_ways_metadata.py:102-107,
                # PyUnusedLocal); mirrored with mean-pool as the 1px
                # resize: per-channel crop means via 3 integral images.
                mr = _box_sums(r, x0, x1, y0, y1) / area
                mg = _box_sums(g, x0, x1, y0, y1) / area
                mb = _box_sums(b, x0, x1, y0, y1) / area
                vals = np.minimum(
                    1.0, np.maximum(mg - np.maximum(mr, mb), 0.0) / 200.0
                )
        else:
            raise ValueError(f"unknown value_kind {value_kind}")
    # applyInPandas matches output columns by name: keep every key
    out = pixels.copy()
    out["value"] = vals
    return out


def explode_way_coords(ways: DataFrame) -> DataFrame:
    """ways(gid, geom) → one (gid, lng, lat) row per vertex. Zoom- and
    provider-independent, so a multi-provider pipeline can materialize
    it ONCE and share it across the per-provider projections of
    sample_tile_values (see update_ways_metadata.run)."""
    return ways.select("gid", F.posexplode("geom").alias("pos", "pt")).select(
        "gid", F.col("pt.lng").alias("lng"), F.col("pt.lat").alias("lat")
    )


def sample_tile_values(
    spark: SparkSession,
    ways: DataFrame,
    providers: list[Provider],
    coords: DataFrame | None = None,
) -> DataFrame:
    """ways(gid, geom) → (gid, p, value): one row per vertex and
    provider, ``p`` the provider's index in ``providers``. ``coords``:
    an optional pre-exploded (gid, lng, lat) frame (explode_way_coords)
    — pass a persisted one so the providers' projections share one
    explode; the output is identical either way."""
    if coords is None:
        coords = explode_way_coords(ways)
    projections = []
    for i, prov in enumerate(providers):
        tx, ty, px, py = lnglat_to_tile_pixel("lng", "lat", prov.zoom, prov.tile_size)
        projections.append(
            coords.select(
                "gid",
                F.lit(i).alias("p"),
                F.lit(prov.zoom).cast("int").alias("z"),
                tx.alias("x"),
                ty.alias("y"),
                px.cast("int").alias("px"),
                py.cast("int").alias("py"),
            )
        )
    keyed = reduce(DataFrame.unionAll, projections)

    def sample(key, pdf):
        p, z, x, y = (int(k) for k in key)
        prov = providers[p]
        if prov.tile_source is None:
            tile = synth_tile_array(x, y, z, prov.mode, prov.tile_size).tobytes()
        else:
            tile = prov.tile_source(z, x, y)
        return _sample_values(pdf, tile, prov.value_kind, prov.tile_size, prov.mode)

    # A pixel's value depends only on (p,z,x,y,px,py) — so the Python
    # sampling stage runs over DISTINCT pixels (≤ tile_size² per tile,
    # independent of vertex count: the scale-invariant. At 100 TB the
    # vertex frame grows; this stage doesn't). Grouping by tile makes
    # each distinct tile one group, so its fetch runs once and its
    # bytes never enter the plan.
    pixels = keyed.select("p", "z", "x", "y", "px", "py").dropDuplicates()
    sampled_px = pixels.groupBy("p", "z", "x", "y").applyInPandas(
        sample, schema="p int, z int, x long, y long, px int, py int, value double"
    )
    # Join the small value frame back to per-vertex rows. AQE turns
    # this into a broadcast join at region scale (values ≤ 65k/tile);
    # at continental scale it stays a well-distributed shuffle join on
    # the 6-part pixel key.
    return keyed.join(sampled_px, ["p", "z", "x", "y", "px", "py"], "left").select(
        "gid", "p", "value"
    )


def enrich_ways(
    spark: SparkSession,
    ways: DataFrame,
    providers: list[Provider],
    coords: DataFrame | None = None,
) -> DataFrame:
    """Full E1 for every provider at once: per-way exact median of
    sampled values, normalized by the provider's global max median
    (update_ways_metadata.py:29-33). Returns (gid, <p.name>…) with
    values in [0,1], one column per provider in order. ``coords`` as
    in sample_tile_values."""
    sampled = sample_tile_values(spark, ways, providers, coords=coords)
    idx = range(len(providers))
    # NOTE: the static plan shows the gmax broadcast side repeating the
    # whole sampling subtree, but runtime ReuseExchange/ReuseSubquery
    # dedupes the identical shuffle stages — measured FASTER than an
    # explicit persist of the median frame, which breaks exchange reuse
    # and pays a cache materialization (2.7s vs 8-17s at sf0.1).
    medians = sampled.groupBy("gid").agg(
        *(F.median(F.when(F.col("p") == i, F.col("value"))).alias(f"m{i}") for i in idx)
    )
    gmax = medians.agg(*(F.max(f"m{i}").alias(f"g{i}") for i in idx))
    return medians.crossJoin(F.broadcast(gmax)).select(
        "gid",
        # All-zero tiles → 0/0: the reference's numpy yields NaN; ANSI
        # mode (Spark 4 default) would throw DIVIDE_BY_ZERO instead, so
        # the NaN branch is explicit (documented edge case, FIXTURES.md,
        # pinned in test_enrichment).
        *(
            F.when(F.col(f"g{i}") != 0, F.col(f"m{i}") / F.col(f"g{i}"))
            .otherwise(F.lit(float("nan")))
            .alias(prov.name)
            for i, prov in enumerate(providers)
        ),
    )
