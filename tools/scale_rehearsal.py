"""Scale rehearsal: run the full catalog at a large SF (default the
10x replicated set from tools/make_sf.py) and record per-entry status
+ wall time into a JSON artifact.

Usage:
  python tools/scale_rehearsal.py [sf_dir] [out_json] [--only a,b] [--skip-oracle a,b]

For entries in --skip-oracle (or the built-in ORACLE_QUADRATIC list)
the DuckDB oracle is NOT run — only the Spark side executes, recording
row count and time with status "spark_only". These are the near-dup
entries whose *oracle* is an exact all-pairs self-join: its cost is
quadratic in duplicate-cluster size, so at the 10x-replica stress set
(every doc has >=10 exact copies) the ORACLE blows up while the
engine's banded/prefix plans stay bounded — which is precisely the
asymmetry the rehearsal exists to demonstrate. Their hash parity is
evidenced at sf0.01 (driver gate) and sf0.1 (pytest sweep).
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from bench import REGRESSION_FACTOR  # noqa: E402

# sf1 (10x replica) engine-side fences, in seconds (engine collect or
# digest time only, oracle excluded); tools/pin_sf1_fences.py prints a
# replacement from a rehearsal artifact.
SF1_ENGINE_FENCES: dict[str, float] = {
    "agg_approx_distinct": 5.2,  # loaded-run value; idle 5.0
    "text_repeated_span_removal": 6.0,  # r13: gated exact-dup doc collapse
    "window_time_range_frame": 7.5,  # r14: digest clock
    "corpus_multimodal_curation": 8.8,  # r12: persisted fingerprints + vector collapse
    "docs_incremental_dedup_parity": 8.5,  # r14: one unified shingle store per micro-batch
    "geo_line_simplify": 9.1,  # r14: digest clock
    "ngram_jaccard_near_dup": 4.5,  # r11: measured auto-router with exact-dup collapse
    "simhash_near_dup": 4.5,  # r12: popcount-packed Hamming verify
    "similarity_ann_ivfpq": 5.5,  # loaded-run value; idle 4.9
    "text_rolling_fingerprint": 9.6,  # loaded-run value; idle 7.0
    "text_winnow_fingerprint_md5": 4.7,  # loaded-run value; idle 2.5
    "trajectory_jaccard_pairs": 6.0,  # r11: bitmask all-pairs route
    "ways_enrichment_pipeline": 11.0,  # r13: digest clock
    "window_running_total": 8.0,  # r14: digest clock
    "window_rank_variants": 9.0,  # r14 first pin (digest clock)
    "scalar_array_funcs": 9.0,  # r14 first pin (digest clock)
    "window_range_frame": 7.0,  # r14 first pin (digest clock)
}

# Exact all-pairs oracles: cost ~ sum over shingles of df^2. The 10x
# replica set multiplies every df by 10 (100x candidates), and the
# boilerplate entry's hot shingles reach df = n_docs (10^9+ pairs per
# shingle) — the oracle, not the engine, is the bottleneck.
ORACLE_QUADRATIC = {
    "ngram_jaccard_near_dup",
    "ngram_jaccard_skewed_corpus",
    "ngram_containment_pairs",
    "minhash_lsh_near_dup",
    "simhash_near_dup",
    "dedup_cluster_resolution",       # recursive CTE over the 100x pair graph
    "dedup_keep_best_quality",        # same recursive-CTE components oracle
    "corpus_leakage_safe_split",      # same recursive-CTE-over-pairs oracle shape
    "docs_incremental_dedup_parity",  # exhaustive offline near-dup oracle
    "decontamination_overlap",
    "embedding_near_dup",             # exact-twin oracle: n^2 list_dot_product
    "embedding_semantic_dedup",       # within-cell pair oracle, 100x under replicas
    "text_repeated_spans",            # cross-doc span pairs, 100x under replicas
    "trajectory_jaccard_pairs",       # all-pairs grid-signature oracle
    "corpus_curation_funnel",         # embeds the exact near-dup pair oracle
    "corpus_multimodal_curation",     # embeds exact semantic-dup oracle
}


# Exact replica-structure oracles (r13 verdict task #5): for operators
# that are pure functions of (id, text), the K×-offset replica's TRUE
# output is an analytic function of the base relation (id < OFF) —
# computable at base cost, never the 100×-blown pair set. Entries here
# get a full value-hash at sf1 (status "ok") instead of spark_only;
# the mapping is (engine-side census wrapper, replica oracle SQL).
# Valid ONLY for make_sf.py-shaped directories; combinatorics pinned
# against a from-scratch K=3 replica in tests/test_replica_oracles.py.
def _replica_census():
    from ariadne_cartograph_spark.plans import replica_oracles as RO

    return {
        "ngram_jaccard_near_dup": (
            lambda df: RO.pair_census(df, "jaccard"),
            RO.jaccard_census_sql(),
        ),
        "ngram_containment_pairs": (
            lambda df: RO.pair_census(df, "containment"),
            RO.containment_census_sql(),
        ),
        "docs_incremental_dedup_parity": (
            lambda df: df,
            RO.incremental_census_sql(),
        ),
        "decontamination_overlap": (
            lambda df: RO.two_id_census(df, "corpus_id", "bench_id", "jaccard"),
            RO.decontamination_census_sql(),
        ),
        "embedding_near_dup": (
            lambda df: RO.pair_census(df, "cosine"),
            RO.embedding_near_dup_census_sql(),
        ),
        "ngram_jaccard_skewed_corpus": (
            lambda df: RO.pair_census(df, "jaccard"),
            RO.skewed_jaccard_census_sql(),
        ),
        "embedding_semantic_dedup": (
            lambda df: df,
            RO.semantic_dedup_census_sql(),
        ),
    }


# Entries whose sf1 result set is large enough (1M+ rows) that the
# compare()-side collect dominates the engine clock (r12: the
# ways_enrichment 10-31s rehearsal spread was 1.47M rows of Arrow
# collection over a ~3s plan). For these, engine_sec comes from a
# DIGEST consumer measured first: xxhash64 over every output column,
# counted — every column feeds the hash so Catalyst can neither prune
# projections nor join-eliminate (the span-removal never-false-filter
# lesson), all work stays JVM-side, and one long crosses to the
# driver. The hash-parity collect still runs (its time
# recorded separately as collect_sec).
ENGINE_CLOCK_DIGEST = {
    "ways_enrichment_pipeline",
    # r14: the other 1M+-row entries join the digest clock — their
    # rehearsal engine_sec was dominated by the hash-parity Arrow
    # collect (8-14s recorded vs 4.9-6.7s fresh-process / 0.4-1.1s
    # warm digest-measured plans; same class as the r12
    # ways_enrichment 10-31s phantom spread).
    "window_running_total",
    "window_rank_variants",
    "window_time_range_frame",
    "window_range_frame",
    "geo_line_simplify",
    "scalar_array_funcs",
    # r14 optimization round: 911k output rows; isolated probe on an
    # idle host read digest min 2.34 s vs collect min 14.2 s — the
    # recorded 8.5 s engine clock was the Arrow collect, not the plan.
    # (events_stream_session_parity probed too and NOT moved: its cost
    # is the availableNow drain at DataFrame build time, and the
    # digest/collect consumers measured within noise of each other.)
    "sessionize_bounds",
}


def digest_consumer(df) -> None:
    """Count-shaped, non-prunable: forces computation of every output
    column for every row without collecting the rows."""
    from pyspark.sql import functions as F

    df.agg(F.count(F.xxhash64(*df.columns)).alias("n")).first()


def merge_summary(
    prev: dict,
    results: dict[str, dict],
    sf_dir: str,
    n_fail: int,
    regressions: dict,
) -> dict:
    """History-preserving artifact merge (r11 verdict): the artifact
    carries note_r* narrative keys (top-level and per-entry) that a
    full regeneration used to drop and --only used to clobber
    wholesale. Unknown top-level keys survive, per-entry unknown keys
    (notes) survive a re-measure, and a partial run keeps every
    untouched entry; the summary statistics are recomputed over the
    MERGED entry set. Unit-tested in tests/test_rehearsal_merge.py."""
    merged_entries = dict(prev.get("entries") or {})
    for name, fresh in results.items():
        old = merged_entries.get(name)
        if isinstance(old, dict):
            fresh = {**{k: v for k, v in old.items() if k not in fresh}, **fresh}
        merged_entries[name] = fresh
    known = {
        "sf_dir", "n_entries", "n_fail", "n_hash_checked", "n_spark_only",
        "total_sec", "total_engine_sec", "total_oracle_sec",
        "engine_regressions", "entries",
    }
    summary = {k: v for k, v in prev.items() if k not in known}
    summary.update({
        "sf_dir": sf_dir,
        # n_fail counts THIS run's failures; stale-entry statuses from a
        # prior run are visible per entry, not re-counted here.
        "n_fail": n_fail,
        "n_entries": len(merged_entries),
        "n_hash_checked": sum(
            1 for r in merged_entries.values() if r["status"] in ("ok", "FAIL")
        ),
        "n_spark_only": sum(
            1 for r in merged_entries.values() if r["status"] == "spark_only"
        ),
        "total_sec": round(sum(r["sec"] for r in merged_entries.values()), 1),
        "total_engine_sec": round(
            sum(r["engine_sec"] or 0.0 for r in merged_entries.values()), 1
        ),
        "total_oracle_sec": round(
            sum(r["oracle_sec"] or 0.0 for r in merged_entries.values()), 1
        ),
        "engine_regressions": regressions,
        "entries": merged_entries,
    })
    return summary


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = {a.split("=")[0]: a.split("=", 1)[1] for a in sys.argv[1:] if "=" in a and a.startswith("--")}
    sf_dir = args[0] if args else "/root/repo/testdata_sf1"
    out_path = args[1] if len(args) > 1 else "SCALE_REHEARSAL_sf1.json"
    only = set(flags.get("--only", "").split(",")) - {""}
    skip_oracle = ORACLE_QUADRATIC | (set(flags.get("--skip-oracle", "").split(",")) - {""})

    from ariadne_cartograph_spark.session import release_session_state
    from ariadne_cartograph_spark.session import get_spark
    from ariadne_cartograph_spark.plans.catalog import REGISTRY, get_queries
    from ariadne_cartograph_spark.plans.oracle_harness import compare, duckdb_connection

    get_queries()
    spark = get_spark("scale-rehearsal")
    # The replica set is ONE parquet file per table, so default
    # 128m splits give 1-2 scan partitions — every broadcast-probe
    # pipeline then runs near-serial, which misrepresents the
    # many-file layout any real deployment reads. 16m splits restore
    # representative scan parallelism (row-group granularity).
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
    con = duckdb_connection(sf_dir)
    replica_census = _replica_census()
    results: dict[str, dict] = {}
    n_fail = 0
    for name, entry in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        engine_sec = oracle_sec = collect_sec = None
        try:
            if entry.oracle is not None and name not in skip_oracle:
                digest_sec = None
                if name in ENGINE_CLOCK_DIGEST:
                    t_d = time.time()
                    digest_consumer(entry.fn(spark, sf_dir))
                    digest_sec = round(time.time() - t_d, 3)
                rep = compare(name, entry.fn(spark, sf_dir), entry.oracle, sf_dir, con=con)
                status = "ok" if rep.ok else "FAIL"
                rows = rep.spark_rows
                engine_sec, oracle_sec = rep.spark_sec, rep.oracle_sec
                if digest_sec is not None:
                    collect_sec = engine_sec
                    engine_sec = digest_sec
                if not rep.ok:
                    n_fail += 1
                    print(rep.describe()[:600], file=sys.stderr)
            elif name in replica_census:
                wrap, census_sql = replica_census[name]
                rep = compare(
                    name, wrap(entry.fn(spark, sf_dir)), census_sql, sf_dir, con=con
                )
                status = "ok" if rep.ok else "FAIL"
                rows = rep.spark_rows
                engine_sec, oracle_sec = rep.spark_sec, rep.oracle_sec
                if not rep.ok:
                    n_fail += 1
                    print(rep.describe()[:600], file=sys.stderr)
            else:
                rows = entry.fn(spark, sf_dir).count()
                status = "spark_only" if entry.oracle is not None else "rows_only"
                engine_sec = round(time.time() - t0, 3)
        except Exception as exc:
            status, rows = "ERROR", -1
            n_fail += 1
            print(f"# {name}: {type(exc).__name__}: {exc}"[:600], file=sys.stderr)
        dt = round(time.time() - t0, 2)
        # Release the dedup/similarity modules' persisted frames
        # between entries (run_catalog_parity does the same): without
        # this, 100+ prior entries' cached blocks accumulate in
        # executor storage memory and the late-alphabet near-dup
        # entries measure eviction/GC pressure instead of their plans —
        # r11 saw ngram_jaccard_near_dup at 37.4s in-context vs
        # 16.7-24.2s isolated on the same day with untouched code.
        release_session_state(spark)
        # Split clocks (r8 advice): `sec` is wall total (plan build +
        # engine + oracle); engine_sec is the Spark collect alone,
        # oracle_sec the DuckDB execution alone — so a slow entry is
        # attributable to the right side. Two caveats, by construction:
        # (1) entries that materialize INSIDE their builder (iterative
        # pagerank/routing localCheckpoints, stream drains) do that
        # engine work before the timed collect — it shows up as
        # sec − engine_sec − oracle_sec; (2) engine_sec includes
        # driver-side Row conversion, so large-result entries (1M+
        # rows) pay a collect tax a count()-style consumer would not.
        results[name] = {
            "status": status, "rows": rows, "sec": dt,
            "engine_sec": engine_sec, "oracle_sec": oracle_sec,
        }
        if name in replica_census and status in ("ok", "FAIL"):
            results[name]["oracle"] = "replica_census"
        if collect_sec is not None:
            results[name]["collect_sec"] = collect_sec
            results[name]["engine_clock"] = "digest"
        print(
            f"# {name}: {status} {rows} rows {dt}s"
            f" (engine {engine_sec}s / oracle {oracle_sec}s)",
            file=sys.stderr,
        )

    # sf1 engine-side fences (SF1_ENGINE_FENCES above, same factor as
    # bench.py's sf0.1 fences): flag any entry whose ENGINE clock blows
    # past 2x its pinned minimum — oracle-side drift (DuckDB recursive
    # CTEs etc.) can't hide an engine regression anymore.
    regressions = {
        name: {"engine_sec": r["engine_sec"], "fence_sec": SF1_ENGINE_FENCES[name]}
        for name, r in results.items()
        if name in SF1_ENGINE_FENCES
        and r["engine_sec"] is not None
        and r["engine_sec"] > REGRESSION_FACTOR * SF1_ENGINE_FENCES[name]
    }
    for name, r in regressions.items():
        print(
            f"# ENGINE REGRESSION {name}: {r['engine_sec']}s vs fence {r['fence_sec']}s",
            file=sys.stderr,
        )

    prev: dict = {}
    try:
        with open(out_path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        prev = {}
    summary = merge_summary(prev, results, sf_dir, n_fail, regressions)
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({k: v for k, v in summary.items() if k != "entries"}))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
