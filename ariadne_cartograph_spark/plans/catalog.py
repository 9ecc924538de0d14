"""Query catalog — the registry behind ``__spark_entry__.queries()``.

Every operator from SURVEY.md §2 that is implemented gets an entry here:
a callable ``(spark, sf_dir) -> DataFrame`` and, when the semantics are
ANSI-SQL-expressible, a DuckDB oracle SQL string computing the same
result with the same column names (the driver hash-compares values after
sorting columns by name).

Conventions enforced across the catalog (see SURVEY.md §5.2):
- every computed column is explicitly aliased, identically on both sides;
- floating aggregates are rounded on both sides so double-precision
  summation-order differences between engines cannot flip the hash;
- any top-k has a total deterministic ordering (ties broken by key);
- no query relies on "keep an arbitrary row" semantics.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class CatalogEntry:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL; None → driver does rows-only check
    headline: bool = False  # include in bench.py
    tags: list[str] = field(default_factory=list)  # SURVEY §2 operator ids


REGISTRY: dict[str, CatalogEntry] = {}


def register(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    tags: list[str] | None = None,
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        assert name not in REGISTRY, f"duplicate catalog entry {name}"
        REGISTRY[name] = CatalogEntry(name, fn, oracle, headline, tags or [])
        return fn

    return deco


def _load_all() -> None:
    # Import side-effect modules that populate REGISTRY.
    from . import relational  # noqa: F401
    from . import events_queries  # noqa: F401
    from . import text_queries  # noqa: F401
    from . import quality_queries  # noqa: F401
    from . import geo_queries  # noqa: F401
    from . import multimodal_queries  # noqa: F401


# The external driver's correctness gate checks the FIRST 50 entries of
# ``queries()`` in dict-iteration order. This list pins that window
# explicitly: every SURVEY.md §2 operator id is covered by at least one
# entry inside it (asserted by tests/test_catalog_window.py), with the
# flagship pipeline, LLM-data-pipeline family (dedup / similarity /
# multimodal / text), geo/OSM and streaming-parity entries up front.
# Entries past the window stay registered and oracled — they are
# redundant *evidence* (their operator tags all appear inside the
# window), not redundant capability.
DRIVER_WINDOW = 50

# The live window. A rotation is staged as a second list and checked by
# tests/test_catalog_window.py before it replaces this one.
WINDOW_ORDER: list[str] = [
    "geo_point_in_polygon_grid",
    # r14 plan rewrites
    "q17_small_quantity_revenue",
    "q21_waiting_supplier",
    "text_fingerprint_exact_dedup",
    "text_bigram_lm_quality",
    "embedding_semantic_dedup",
    "ngram_jaccard_skewed_corpus",
    # r14 additions
    "text_chi2_discriminative_terms",
    "text_bigram_lift_collocations",
    "window_sliding_distinct_users",
    "graph_degree_assortativity",
    "retrieval_eval_mrr",
    "corpus_source_overlap",
    "text_simpson_diversity",
    "graph_clustering_coefficient",
    "events_user_gini",
    "ann_recall_eval",
    "corpus_quality_prune_per_source",
    "events_session_paths",
    # tag-cover anchors
    "q22_wealthy_inactive",
    "text_chunk_dedup",
    "text_chunking",
    "text_token_shards",
    "text_vocab_coverage",
    "embedding_near_dup",
    "text_token_topk_sketch",
    "merge_upsert_bucketed",
    "osm_ingest_pbf_parity",
    "osm_topology_edges",
    "set_union_all_counts",
    "events_stream_dedup_parity",
    "events_stream_enrich_parity",
    "events_stream_session_parity",
    "osm_polygon_way_area",
    "osm_replication_pipeline_parity",
    "ways_enrichment_pipeline",
    # sole carriers of tags A4/J5/P1/P2/P3/S9: cannot rotate out
    "geo_line_simplify",
    "merge_upsert_metadata",
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "scalar_json_extract",
    "scan_tag_index_pruned",
    # stalest hash evidence
    "q7_nation_volume",
    "q8_market_share",
    "text_normalized_exact_dedup",
    "text_quality_logreg",
    "text_repeated_spans",
    "text_repetition_profile",
    "text_tfidf_probe_terms",
    "text_unigram_logprob",
]


def _ordered() -> dict[str, CatalogEntry]:
    _load_all()
    missing = [n for n in WINDOW_ORDER if n not in REGISTRY]
    assert not missing, f"WINDOW_ORDER names not registered: {missing}"
    tail = [n for n in REGISTRY if n not in set(WINDOW_ORDER)]
    return {n: REGISTRY[n] for n in [*WINDOW_ORDER, *tail]}


def get_queries() -> dict[str, QueryFn]:
    return {name: e.fn for name, e in _ordered().items()}


def get_oracles() -> dict[str, str]:
    return {name: e.oracle for name, e in _ordered().items() if e.oracle is not None}


def get_headline() -> dict[str, QueryFn]:
    return {name: e.fn for name, e in _ordered().items() if e.headline}
