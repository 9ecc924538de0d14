"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Regression fence: per-query times are compared against BASELINE_QUERIES
below — the single source of truth for fence values (BASELINE.md points
here). Fences are per-query clean-run minimums, re-pinned when the data
or the plan legitimately changes. Any query >2x its fence is reported
in a "regressions" key and on stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

# sf0.1 / local[32] fences: per-query clean-run minimums, in seconds.
BASELINE_QUERIES: dict[str, float] = {
    "asof_purchase_after_signup": 0.6,  # high end of a JVM-state-sensitive spread
    "events_stream_session_parity": 3.406,
    "events_tumbling_hourly": 0.427,
    "minhash_lsh_near_dup": 1.8,  # r6 re-pin (gated collapse skip)
    "multimodal_image_stats": 0.6,  # r5 Arrow-path fence (image mapInPandas)
    "osm_ingest_feature_tables": 2.47,  # r5 re-pin; r14 A/B confirmed the r13 drift was host state
    "ngram_jaccard_near_dup": 1.55,  # r5 re-pin
    "ngram_jaccard_skewed_corpus": 3.2,  # r6: gate pass on top of the prefix plan
    "q10_returned_items": 0.987,
    "q14_promo_revenue": 0.417,
    "q1_pricing_summary": 0.417,
    "q3_shipping_priority": 0.768,
    "q5_region_revenue": 1.188,
    "q6_forecast_revenue": 0.249,
    "sessionize_bounds": 0.679,
    "similarity_topk_cosine": 0.62,  # r5 re-pin
    "text_bm25_topk": 0.88,  # r5 re-pin
    "text_fingerprint_exact_dedup": 0.374,
    "text_token_topk_sketch": 0.739,  # r5: MG-sketch Arrow path fence
    "ways_enrichment_pipeline": 2.6,  # high end of a JVM-state-sensitive spread
    "text_repeated_span_removal": 1.6,  # r12 first pin, near the steady min
    "fuzzy_join_part_names": 0.86,  # r12 first pin
    "embedding_pca_project": 1.2,  # r12 first pin
}
REGRESSION_FACTOR = 2.0
# The scale the BASELINE_QUERIES fences were measured at. Runs at any
# other sf skip the fence comparison and say so in the JSON.
FENCE_SF = 0.1


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from ariadne_cartograph_spark.session import get_spark, release_session_state
    from ariadne_cartograph_spark.plans.catalog import get_headline

    spark = get_spark("bench")
    headline = get_headline()

    # Failure-injection hook for the harness's own test: proves one
    # broken query cannot take down the whole bench (the r3 failure
    # mode). tests/test_bench_harness.py sets this.
    inject = os.environ.get("SPARK_GRAFT_BENCH_INJECT_ERROR")
    if inject:
        def _boom(_spark, _sf_dir):
            raise RuntimeError("injected bench failure")

        headline[inject] = _boom

    # Warm-up phase (untimed), standard JIT-bench practice:
    # 1. one trivial job (executor spin-up);
    # 2. a schema (footer) read per table — what a metastore would cache;
    # 3. each headline query once at sf0.001 — compiles the same
    #    whole-stage-codegen classes and Python-worker pools the timed
    #    sf run reuses, so timings measure the engine, not the JIT.
    spark.range(1).count()
    from ariadne_cartograph_spark.sources.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        try:
            _ = load_table(spark, sf_dir, t).schema
        except Exception:
            pass
    warm_sf = os.environ.get("SPARK_GRAFT_WARM_SF_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_sf) and os.path.abspath(warm_sf) != os.path.abspath(sf_dir):
        for name, fn in sorted(headline.items()):
            try:
                fn(spark, warm_sf).count()
            except Exception:
                pass

    # Load-aware repeats (r8 verdict: a +3.9% drift on a ZERO-line diff
    # could only be diagnosed by hand). Each query runs `repeats` times
    # and records the MIN — the machine-load-independent number — plus
    # os.getloadavg() before/after the whole loop so an artifact from a
    # busy host is visibly from a busy host.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    load_start = [round(x, 2) for x in os.getloadavg()]

    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name, fn in sorted(headline.items()):
        runs: list[float] = []
        for _ in range(repeats):
            t0 = time.time()
            # A single broken query must not take the whole bench down —
            # a harness that can't produce numbers under partial failure
            # is itself a correctness bug (r3 lost all 15 healthy
            # timings to one analysis exception).
            try:
                df = fn(spark, sf_dir)
                n = df.count()
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                print(f"# ERROR {name}: {errors[name]}", file=sys.stderr)
                release_session_state(spark)
                runs = []
                break
            runs.append(round(time.time() - t0, 3))
            # Release per-run state (persisted shingle frames, temp
            # views, unkeyed work directories) between runs, so each run
            # measures the query cold rather than accumulating caches.
            release_session_state(spark)
        if not runs:
            continue
        timings[name] = min(runs)
        all_runs[name] = runs
        print(f"# {name}: min {timings[name]}s of {runs} ({n} rows)", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # BASELINE_QUERIES is pinned at sf0.1: comparing another scale's
    # timings against it labels a data-size difference a "regression"
    # (the committed r11 BENCH_sf1.json artifact read that way and
    # needed the commit message to explain itself). Fences only fire at
    # their own scale; other scales get an explicit skip marker.
    fences_apply = sf_val == FENCE_SF
    regressions = (
        {
            name: {"sec": t, "baseline_sec": BASELINE_QUERIES[name]}
            for name, t in timings.items()
            if name in BASELINE_QUERIES
            and t > REGRESSION_FACTOR * BASELINE_QUERIES[name]
        }
        if fences_apply
        else {}
    )
    for name, r in regressions.items():
        print(
            f"# REGRESSION {name}: {r['sec']}s vs baseline {r['baseline_sec']}s",
            file=sys.stderr,
        )
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # Load context (r8 advice): repeats per query (min reported),
        # 1/5/15-min load averages at loop start/end.
        "repeats": repeats,
        # Session width, so an artifact proves which $SPARK_GRAFT_CPUS
        # it actually ran at (r14 verdict: the flat 8-vs-32 scaling
        # ratios were read as "CPUS ignored" because nothing in the
        # output showed the master width).
        "parallelism": spark.sparkContext.defaultParallelism,
        "load_avg_start": load_start,
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
    }
    if fences_apply:
        out["fence_sf"] = FENCE_SF
        if regressions:
            out["regressions"] = regressions
    else:
        out["fences_skipped"] = (
            f"BASELINE_QUERIES fences are pinned at sf{FENCE_SF}; this run is sf{sf_val}"
        )
    if errors:
        out["errors"] = errors
    # Per-run times go to stderr, NOT the stdout JSON line: the r13
    # official comparison was lost (PERF_r14 prev_bench_ok=false)
    # because the `runs` dict pushed the one stdout line past the
    # driver's capture window and it could not be parsed. The stdout
    # contract line stays compact; full per-run detail is one stderr
    # line (and each query's runs were already printed per-query above).
    print(f"# runs {json.dumps(all_runs)}", file=sys.stderr)
    print(json.dumps(out))
    # Non-zero rc only when nothing could be measured at all.
    return 0 if timings else 1


if __name__ == "__main__":
    sys.exit(main())
