"""The reference's top-level script, Spark-native — same name, same
flow (`/root/reference/update_ways_metadata.py:128-144`): load
``config.yaml`` → read the routable ``ways`` table → for each tile
provider compute the per-way MEDIAN of per-vertex sampled values,
normalize by the global max (`update_ways_metadata.py:29-33`) → upsert
the providers' columns into ``ways_metadata`` with ON CONFLICT
semantics (`update_ways_metadata.py:50-54`).

What changes under Spark: the reference walks a psycopg2 cursor row by
row with sequential HTTP and a process-local tile dict, once per
provider; here one distributed plan enriches every requested provider
— coordinate explode, distinct-pixel sampling in one tile-keyed
Python stage (each tile fetched inside its own group), hash-aggregate
medians, broadcast-normalize — and one copy-on-write MERGE
(bucket-pruned when the metadata table is bucketed) commits all the
columns together. The providers and value functions mirror the
reference's (`update_ways_metadata.py:63-66,103-119`).

Usage (offline by default — the synthetic closed-form tiles; pass a
``--url`` template to fetch live like the reference). The example
imports the repository's seeded OSM fixture, whose path
``python -m ariadne_cartograph_spark.sources.osm_fixture`` prints:

    python -m ariadne_cartograph_spark.update_ways_metadata \\
        --ways "osm:$(python -m ariadne_cartograph_spark.sources.osm_fixture)" \\
        --out /tmp/ways_metadata \\
        --providers strava,gmaps [--config config.yaml] [--url ...]
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.enrich import (
    GMAPS_GREENERY_PROVIDER,
    STRAVA_HIGHRES_PROVIDER,
    STRAVA_PROVIDER,
    Provider,
    enrich_ways,
    explode_way_coords,
)
from .operators.merge import ParquetMergeTable
from .sources.config import load_config, provider_headers
from .sources.tiles import http_tiles

# provider key → (ways_metadata column, Provider) — the exact columns
# the reference writes (update_ways_metadata.py:71,91,125).
PROVIDERS: dict[str, tuple[str, Provider]] = {
    "strava": ("popularity", STRAVA_PROVIDER),
    "strava_highres": ("popularity_highres", STRAVA_HIGHRES_PROVIDER),
    "gmaps": ("greenery", GMAPS_GREENERY_PROVIDER),
}


def load_ways(spark: SparkSession, src: str) -> DataFrame:
    """→ ways(gid, geom: array<struct<lng,lat>>). ``osm:<path>`` runs
    the osm2pgrouting-analog import (the reference's ``ways`` IS that
    tool's edge table, README.md:44); anything else reads a parquet
    table already carrying (gid, geom)."""
    if src.startswith("osm:"):
        from .operators.topology import build_topology, routable_ways
        from .sources.osm import read_osm_elements, split_elements

        t = split_elements(read_osm_elements(spark, src[len("osm:"):]))
        # only id and refs: the edges' attribute join would parse the
        # XML once more for columns this table drops
        rw = routable_ways(t["ways"]).select("id", "node_refs")
        return build_topology(t["nodes"], rw)["edges"].select("gid", "geom")
    return spark.read.parquet(src).select("gid", "geom")


def run(
    spark: SparkSession,
    ways: DataFrame,
    out_path: str,
    provider_names: list[str],
    config: dict | None = None,
    url_templates: dict[str, str] | None = None,
    n_buckets: int | None = None,
) -> dict[str, int]:
    """Enrich ``ways`` with every requested provider in one plan and
    MERGE their columns into the ``ways_metadata`` table at
    ``out_path`` in one commit (repeated names count once). Offline
    (synthetic tiles) unless the provider has a URL template — then
    the live HTTP fetcher with the config's auth headers, exactly the
    reference's authed high-res path (update_ways_metadata.py:88-89).
    Returns {column: row count} per provider."""
    names = list(dict.fromkeys(provider_names))
    url_templates = url_templates or {}
    stray = sorted(set(url_templates) - set(names))
    if stray:
        raise ValueError(
            f"url template for {stray[0]!r}, which is not a provider of this run {names}"
        )
    if not names:
        return {}
    columns, providers = [], []
    for name in names:
        if name not in PROVIDERS:
            raise ValueError(f"unknown provider {name!r}; have {sorted(PROVIDERS)}")
        column, provider = PROVIDERS[name]
        if name in url_templates:
            headers = provider_headers(config or {}, name) or None
            provider = dataclasses.replace(
                provider, tile_source=http_tiles(url_templates[name], headers=headers)
            )
        columns.append(column)
        providers.append(provider)
    # The ways lineage (for osm: sources, the whole XML parse +
    # topology build) feeds one projection per provider: with several
    # providers, materialize the exploded coordinates ONCE so the
    # import runs once (the reference holds the ways cursor rows in
    # memory across its providers; this is the distributed analog).
    # Output is pinned identical to the unshared path in
    # tests/test_enrichment.py.
    coords = None
    if len(names) > 1:
        coords = explode_way_coords(ways).localCheckpoint(eager=True)
    # Materialize the enrichment ONCE, in the row count's own job (a
    # lazy checkpoint fills on its first action): upsert then reads
    # the frame twice (bucket census + merged write) — without the
    # checkpoint each read would re-execute the whole sampling
    # lineage, tile fetches included.
    vals = enrich_ways(spark, ways, providers, coords=coords).toDF("gid", *columns)
    vals = vals.localCheckpoint(eager=False)
    n = vals.count()
    # the reference's ON CONFLICT DO UPDATE SET {columns}: columns of
    # providers not in this run are untouched
    ParquetMergeTable(spark, out_path, key="gid", n_buckets=n_buckets).upsert(
        vals, update_cols=columns
    )
    return {column: n for column in columns}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--ways", required=True, help="parquet path or osm:<xml/pbf path>")
    ap.add_argument("--out", required=True, help="ways_metadata table path")
    ap.add_argument(
        "--providers",
        default="strava,gmaps",
        help=f"comma list of {sorted(PROVIDERS)} (reference main runs strava+gmaps)",
    )
    ap.add_argument("--config", default="config.yaml", help="engine config yaml")
    ap.add_argument(
        "--url",
        action="append",
        default=[],
        metavar="NAME=TEMPLATE",
        help="live tile URL template per provider (${z}/${x}/${y}); omit for offline synthetic tiles",
    )
    ap.add_argument("--n-buckets", type=int, default=None)
    args = ap.parse_args(argv)

    urls = dict(u.split("=", 1) for u in args.url)
    config = load_config(args.config)
    from .session import get_spark

    spark = get_spark("update-ways-metadata")
    ways = load_ways(spark, args.ways)
    written = run(
        spark,
        ways,
        args.out,
        [p.strip() for p in args.providers.split(",") if p.strip()],
        config=config,
        url_templates=urls,
        n_buckets=args.n_buckets,
    )
    print(json.dumps({"out": args.out, "written": written}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
