"""The workloads as lists of steps.

A step is one catalog entry or one public pipeline call. ``build`` makes
the plan (for a catalog entry: calls the entry function, including any
eager probes it runs); the step is then consumed either through the
digest (``call=False``) or, for a pipeline call that is itself an action,
by running what ``build`` returned (``call=True``). ``check`` verifies
the result against an independent source and runs outside the timed
passes; ``verify`` is cheap and runs on every pass.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import SparkSession

from digest import take_digest
from gen_osm import Census

# At these sizes a step costs 0.5-4.5 s of mostly fixed per-query overhead
# (the first pass about twice that), so the list keeps one entry per
# mechanism, short enough that a run with its checks stays near 45 s.
LLM_CURATION = [
    "text_fingerprint_exact_dedup", "ngram_jaccard_near_dup", "similarity_topk_cosine",
    "embedding_pca_project", "embedding_stream_pca_parity", "multimodal_image_stats",
]
PROVIDERS = ["strava", "gmaps"]


@dataclass
class Step:
    name: str
    build: Callable[[], Any]
    check: Callable[[Any, Any], str | None]
    verify: Callable[[Any], str | None] | None = None
    call: bool = False


@dataclass
class Ctx:
    spark: SparkSession
    data_dir: str
    work_dir: str
    xml_path: str = ""
    census: Census | None = None
    con: Any = None
    collect_s: float = 0.0
    state: dict = field(default_factory=dict)


def _oracle_check(ctx: Ctx, name: str) -> Callable[[Any, Any], str | None]:
    from ariadne_cartograph_spark.plans.catalog import REGISTRY
    from ariadne_cartograph_spark.plans.oracle_harness import compare

    def check(df, _result) -> str | None:
        rep = compare(name, df, REGISTRY[name].oracle, ctx.data_dir, con=ctx.con)
        ctx.collect_s += rep.spark_sec or 0.0
        return None if rep.ok else rep.describe()

    return check


def entry_steps(ctx: Ctx, names: list[str]) -> list[Step]:
    from ariadne_cartograph_spark.plans.catalog import REGISTRY, get_queries

    get_queries()  # registers every entry
    return [
        Step(n, build=lambda fn=REGISTRY[n].fn: fn(ctx.spark, ctx.data_dir),
             check=_oracle_check(ctx, n))
        for n in names
    ]


def _expect(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got}, expected {want}"


def gis_steps(ctx: Ctx) -> list[Step]:
    """The paper's dataflow on the generated OSM XML: ingest, the routable
    edge table, and the ``ways_metadata`` upsert twice (insert, then
    update of every key)."""
    from ariadne_cartograph_spark import update_ways_metadata as uwm
    from ariadne_cartograph_spark.operators.merge import ParquetMergeTable
    from ariadne_cartograph_spark.sources.osm import read_osm_elements

    spark, c = ctx.spark, ctx.census
    src = "osm:" + ctx.xml_path

    def check_ingest(df, _digest) -> str | None:
        got = {r["kind"]: r["count"] for r in df.groupBy("kind").count().collect()}
        return _expect("element counts", got, c.by_kind)

    def check_edges(_df, digest) -> str | None:
        return _expect("edges", digest[2], c.edges)

    def table_digest(path: str):
        t = ParquetMergeTable(spark, path, key="gid").read()
        return take_digest(t.select("gid", *sorted(x for x in t.columns if x != "gid")))[0]

    def upsert(fresh: bool):
        def build():
            if fresh:
                ctx.state["n"] = ctx.state.get("n", 0) + 1
                ctx.state["table"] = os.path.join(ctx.work_dir, f"ways_metadata_{ctx.state['n']}")
            ways = uwm.load_ways(spark, src)
            path = ctx.state["table"]
            return lambda: uwm.run(spark, ways, path, PROVIDERS)

        return build

    def verify_written(written) -> str | None:
        return _expect("written", written, {"popularity": c.edges, "greenery": c.edges})

    def check_insert(_act, _written) -> str | None:
        d = table_digest(ctx.state["table"])
        ctx.state["insert_digest"] = d
        return _expect("ways_metadata rows", d[2], c.edges)

    def check_update(_act, _written) -> str | None:
        return _expect("digest after update", table_digest(ctx.state["table"]),
                       ctx.state.get("insert_digest"))

    return [
        Step("osm_ingest", lambda: read_osm_elements(spark, ctx.xml_path), check_ingest),
        Step("load_ways", lambda: uwm.load_ways(spark, src), check_edges),
        Step("ways_metadata_insert", upsert(True), check_insert, verify_written, call=True),
        Step("ways_metadata_update", upsert(False), check_update, verify_written, call=True),
    ]


def drop_tables(ctx: Ctx) -> None:
    """Remove the pass's ways_metadata table (outside the clock)."""
    if "table" in ctx.state:
        shutil.rmtree(ctx.state.pop("table"), ignore_errors=True)


WORKLOADS = {
    "llm_curation": lambda ctx: entry_steps(ctx, LLM_CURATION),
    "gis_pipeline": gis_steps,
}
