"""Physical-plan regression tests: the 100 TB posture is a property of
the PLAN, not of small-SF timings, so pin it directly.

Each test asserts the plan shape SURVEY.md §4 promises:
- filters/projections reach the parquet scan (PushedFilters/ReadSchema);
- dimension joins broadcast (no fact-side shuffle for small dims);
- ORDER BY + LIMIT plans as TakeOrderedAndProject (distributed top-k
  heap, never a global sort);
- relational hot paths contain NO row-at-a-time Python eval
  (BatchEvalPython) — Python appears only in the Arrow-batched
  multimodal/tile stages (ArrowEvalPython / FlatMapsGroupsInArrow).

If a refactor regresses one of these, correctness tests stay green but
the plan silently stops scaling; these tests make that loud.
"""

from __future__ import annotations

import pytest

from .conftest import SF_SMOKE


def plan_of(df, mode: str = "formatted") -> str:
    """executedPlan explain text without printing to stdout."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


@pytest.fixture(scope="module")
def queries():
    from ariadne_cartograph_spark.plans.catalog import get_queries

    return get_queries()


def test_q1_filter_and_projection_pushed_to_scan(spark, queries):
    df = queries["q1_pricing_summary"](spark, SF_SMOKE)
    plan = plan_of(df)
    # Column PRUNING must reach the scan: q1 touches 7 of lineitem's 11
    # columns; reading the rest at 100 TB is pure waste.
    scan = next(s for s in plan.split("\n\n") if "ReadSchema:" in s)
    assert "l_partkey" not in scan, "unused key column read at scan"
    assert "l_quantity" in scan
    assert "PushedFilters: [" in scan and "PushedFilters: []" not in scan
    # Aggregation is partial+final hash agg (map-side combine).
    assert plan.count("HashAggregate") >= 2
    # Whole-stage codegen spans show as *(n) in the finalized AQE plan.
    df.collect()
    assert "*(" in plan_of(df, "simple")


def test_q6_predicate_pushdown_reaches_parquet(spark, queries):
    plan = plan_of(queries["q6_forecast_revenue"](spark, SF_SMOKE))
    assert "PushedFilters: [" in plan
    # At least one real (non-empty) pushed filter set on lineitem.
    assert "PushedFilters: []" != _pushed(plan), plan


def _pushed(plan: str) -> str:
    for line in plan.splitlines():
        if "PushedFilters" in line:
            return line.split("PushedFilters:", 1)[1].strip().rstrip(",")
    return ""


def test_q5_dimension_joins_broadcast(spark, queries):
    plan = plan_of(queries["q5_region_revenue"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, "dimension joins must broadcast"


def _hint_subtrees(analyzed: str) -> list[str]:
    """Extract each ResolvedHint node's subtree from a logical-plan tree
    string (children are the following lines with deeper tree prefix)."""
    import re

    def depth(ln: str) -> int:
        return len(re.match(r"^[\s:+|-]*", ln).group(0))

    lines = analyzed.splitlines()
    subs = []
    for i, ln in enumerate(lines):
        if "ResolvedHint" in ln:
            d = depth(ln)
            sub = [ln]
            for nxt in lines[i + 1 :]:
                if depth(nxt) <= d:
                    break
                sub.append(nxt)
            subs.append("\n".join(sub))
    return subs


def test_no_broadcast_hint_on_sf_scaling_dims(spark, queries):
    """part/supplier grow linearly with scale factor — a hardcoded
    broadcast() hint overrides AQE's size check and OOMs at 100×.
    Assert no ResolvedHint subtree scans part or supplier; hints are
    reserved for constant-size dims (region/nation) and one-row
    aggregates. AQE still broadcasting at bench scale is pinned by
    test_q5_dimension_joins_broadcast / the q14 check below."""
    for name in [
        "q5_region_revenue",
        "q7_nation_volume",
        "q8_market_share",
        "q14_promo_revenue",
        "q15_top_supplier",
        "q17_small_quantity_revenue",
        "q19_disjunctive_revenue",
        "q21_waiting_supplier",
    ]:
        df = queries[name](spark, SF_SMOKE)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        for sub in _hint_subtrees(analyzed):
            assert "p_partkey" not in sub and "s_suppkey" not in sub, (
                f"{name}: broadcast hint forced onto SF-scaling table:\n{sub}"
            )


def test_q14_part_join_still_broadcasts_via_aqe(spark, queries):
    """With the hint gone, AQE must still pick BroadcastHashJoin for
    part at bench scale — proving the de-hinting costs nothing locally."""
    df = queries["q14_promo_revenue"](spark, SF_SMOKE)
    df.collect()  # finalize AQE plan
    assert "BroadcastHashJoin" in plan_of(df, "simple")


def test_topk_plans_as_take_ordered_not_global_sort(spark, queries):
    plan = plan_of(queries["topk_orders_by_price"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_q3_topk_after_join_is_take_ordered(spark, queries):
    plan = plan_of(queries["q3_shipping_priority"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_relational_paths_have_no_python_row_eval(spark, queries):
    """Every oracled relational/text query must stay JVM-side: Python
    only ever appears Arrow-batched (pandas UDFs) — and in these
    catalog families, not at all."""
    for name in [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_revenue",
        "join_semi_orders_with_big_items",
        "window_topn_per_group",
        "agg_rollup_orders",
        "text_token_stats",
        "text_quality_metrics",
        "minhash_lsh_near_dup",
        "similarity_topk_cosine",
    ]:
        plan = plan_of(queries[name](spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"


def test_exact_dedup_single_shuffle_then_semi_join(spark, queries):
    plan = plan_of(queries["text_fingerprint_exact_dedup"](spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan
    # Representative-selection is an aggregate + semi join, not a
    # global window sort.
    assert "Window" not in plan


def test_enrichment_python_stages_are_arrow_batched(spark, queries):
    """The tile sampler is the one place Python is allowed in E1 — it
    must be the grouped-Arrow operator, not row-at-a-time eval."""
    plan = plan_of(queries["ways_enrichment_pipeline"](spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan


def test_ann_lsh_candidate_exchange_carries_ids_only(spark, queries):
    # The LSH bucket join and the candidate distinct must shuffle ONLY
    # id pairs: an Exchange whose partitioning references an embedding
    # array means vectors are being duplicated n_tables× across the
    # wire (the r3-flagged scale bug). Vectors may appear only in
    # BroadcastExchange (query side) / the id-keyed fetch join.
    df = queries["similarity_ann_lsh"](spark, SF_SMOKE)
    plan = plan_of(df, "simple")
    for line in plan.splitlines():
        s = line.strip()
        if s.startswith("+- Exchange") or s.startswith("Exchange"):
            assert "_vec" not in s and "embedding" not in s, (
                "shuffle partitioning carries vector columns: " + s
            )


def test_heavy_hitters_sketch_plan_posture(spark, queries):
    """MG heavy hitters: Python appears only as the Arrow-batched
    sketch map; the candidate recount joins via broadcast (no raw-token
    shuffle-join); the final top-k is a TakeOrdered heap, not a global
    sort."""
    plan = plan_of(queries["text_token_topk_sketch"](spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan or "MapInArrow" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_pip_grid_entry_runs_grid_route(spark, queries):
    """geo_point_in_polygon_grid (r14): the polygon side exceeds
    PIP_BROADCAST_MAX_POLYGONS, so the driver-hashed plan must be the
    cell-replicated GRID route — a hash equi-join on the cell id, no
    BroadcastNestedLoopJoin (the broadcast route's signature), and no
    outlier side-channel engaged (the regular grid has no bbox
    outliers). The containment verify stays whole-stage codegen."""
    df = queries["geo_point_in_polygon_grid"](spark, SF_SMOKE)
    plan = plan_of(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__cx" in plan and "__cy" in plan  # the cell equi-join keys
    assert "BatchEvalPython" not in plan  # ray-crossing is column math


def test_simpson_diversity_is_shuffle_free(spark, queries):
    """text_simpson_diversity's whole computation is row-local HOF
    math: the only exchanges allowed are the fan_out round-robin and
    the final ORDER BY range partitioning — no hash-partition shuffle,
    no window, no Python."""
    plan = plan_of(queries["text_simpson_diversity"](spark, SF_SMOKE), "simple")
    assert "hashpartitioning" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_user_gini_has_no_global_window(spark, queries):
    """events_user_gini ranks via scalable_cumsum (range repartition +
    per-partition windows + broadcast offsets) — the executed plan must
    never contain a global-order window (the single-partition
    scale-killer). The one SinglePartition exchange allowed is the
    final 1-row aggregate."""
    df = queries["events_user_gini"](spark, SF_SMOKE)
    plan = plan_of(df, "simple")
    assert "windowspecdefinition" not in plan  # rank happened upstream, partitioned
    assert "BatchEvalPython" not in plan
