"""Trajectory similarity (PAPERS.md: REPOSE-style distributed top-k
trajectory similarity): trajectories are reduced to grid-cell
signature SETS (the local-reference-point idea — a coarse spatial
vocabulary), so trajectory similarity becomes set similarity and runs
on document dedup's exact set-similarity join: the signature frame is
a (traj, sh, n_sh) set frame handed to dedup's count kernel
(``_count_join``) or prefix kernel (``_prefix_join``).

Scale design: the cell explode-join is the document-shingle join with
cells as the vocabulary — Σ df(cell)² bounded by cell coarseness.
Hotspot cells (downtown cells everyone visits) are the skew case:
:func:`trajectory_jaccard_pairs` measures cell-frequency skew with a
1-row stats aggregate like ngram_jaccard_pairs_auto's and auto-routes
to the prefix kernel (rarest-cell-first prefixes keep hot cells out of
the candidate join) when the hottest cell alone would dominate the
candidate volume; a small dense cell universe takes the bitmask
all-pairs route, which only trajectories use. Cell ids are pure
integer arithmetic (floor(coord/cell_deg)) — deterministic across
engines, hence DuckDB-oracle-checkable, unlike hash-based shingles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import grid_cell
from .dedup import (
    _COLLAPSE_MIN_DUP_RATIO,
    _count_join,
    _expand_collapsed_pairs,
    _prefix_join,
    _track_persist,
    ngram_join_strategy,
)

# cx ∈ [-360/deg, 360/deg]; ×1e6 keeps the pair injective for any
# cell_deg ≥ 1e-3 while staying far from long overflow.
_CELL_ENC = 1_000_000

# Bitmask all-pairs route (dense-similarity regime): only when the
# observed cell universe fits this many bits (words = cells/64 mask
# columns) AND the rep count is broadcastable. 4096 cells ≈ 64 long
# columns ≈ 512 B/row; 500k reps ≈ 256 MB broadcast upper bound — both
# far above anything a coarse grid (≤ (360/deg)·(180/deg) cells)
# produces, and safely under executor memory on a real cluster.
_BITMASK_MAX_CELLS = 4096
_BITMASK_MAX_REPS = 500_000


def cell_id(lng: F.Column, lat: F.Column, cell_deg: float) -> F.Column:
    cx, cy = grid_cell(lng, lat, cell_deg)
    return cx * _CELL_ENC + cy


def trajectory_cells(
    pts: DataFrame,
    traj_col: str,
    lng_col: str,
    lat_col: str,
    cell_deg: float,
) -> DataFrame:
    """Point rows → distinct (trajectory, cell) pairs — the exploded
    signature-set relation."""
    return pts.select(
        F.col(traj_col),
        cell_id(F.col(lng_col), F.col(lat_col), cell_deg).alias("cell"),
    ).dropDuplicates()


def _bitmask_allpairs(
    exploded: DataFrame,
    freq: DataFrame,
    traj_col: str,
    threshold: float,
    n_cells_universe: int,
) -> DataFrame:
    """Dense-similarity escape: when the cell universe is tiny (a
    coarse grid) and most signatures overlap most others, NO
    candidate filter prunes — the prefix join's pair `distinct`
    becomes the bottleneck (measured 25 s over 21.8M candidate rows at
    sf1, where the verified output itself is 13.6M pairs). Here each
    signature packs into ⌈universe/64⌉ long words, and the exact
    verify is popcount(AND) over a broadcast nested-loop all-pairs —
    zero shuffle, zero distinct, whole-stage-codegen arithmetic. Exact
    and lossless (bit positions are a dense rank of the observed
    cells), so it returns byte-identical results to dedup's count and
    prefix kernels (``_count_join`` / ``_prefix_join``), the other two
    routes.
    Only entered under the measured gate in
    :func:`trajectory_jaccard_pairs`: reps broadcastable AND all-pairs
    volume no worse than what the count/prefix joins would shuffle."""
    from pyspark.sql.window import Window as W

    n_words = (n_cells_universe + 63) // 64
    # dense bit position per observed cell: a 94-row (universe-sized)
    # window, then broadcast-joined onto the exploded relation
    pos_tbl = freq.select(
        "g", (F.row_number().over(W.orderBy("g")) - 1).alias("__pos")
    )
    bits = exploded.join(F.broadcast(pos_tbl), "g").select(
        F.col(traj_col),
        (F.col("__pos") / 64).cast("int").alias("__w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))").alias("__bit"),
    )
    # persisted: masks feeds BOTH sides of the all-pairs join (the
    # repartitioned probe side and the broadcast side) — without it
    # the bit-packing aggregation over the exploded relation runs twice
    masks = _track_persist(
        bits.groupBy(traj_col).agg(
            F.count(F.lit(1)).alias("n_cells"),
            *[
                F.bit_or(
                    F.when(F.col("__w") == w, F.col("__bit")).otherwise(F.lit(0).cast("long"))
                ).alias(f"__m{w}")
                for w in range(n_words)
            ],
        )
    )
    # AQE would coalesce the (universe-bounded-width, rep-count-rows)
    # aggregate to one partition; the nested-loop popcount work must
    # spread instead — rep-count-sized shuffle, trivially cheap
    spread = masks.repartition(
        exploded.sparkSession.sparkContext.defaultParallelism, traj_col
    )
    a = spread.alias("a")
    b = F.broadcast(masks).alias("b")
    inter = sum(
        F.bit_count(F.col(f"a.__m{w}").bitwiseAND(F.col(f"b.__m{w}")))
        for w in range(n_words)
    ).cast("double")
    union = (F.col("a.n_cells") + F.col("b.n_cells")).cast("double") - inter
    return (
        a.join(
            b,
            (F.col(f"a.{traj_col}") < F.col(f"b.{traj_col}"))
            # length ratio prune evaluates before the popcounts
            & (F.col("b.n_cells") >= F.lit(threshold) * F.col("a.n_cells"))
            & (F.col("a.n_cells") >= F.lit(threshold) * F.col("b.n_cells")),
        )
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col(f"a.{traj_col}").alias("id_a"),
            F.col(f"b.{traj_col}").alias("id_b"),
            "jaccard",
        )
    )


def trajectory_jaccard_pairs(
    pts: DataFrame,
    traj_col: str,
    lng_col: str,
    lat_col: str,
    cell_deg: float = 10.0,
    threshold: float = 0.6,
) -> DataFrame:
    """All trajectory pairs with cell-signature Jaccard ≥ threshold,
    with the physical plan auto-selected on MEASURED statistics (both
    measurements are 1-row model-sized aggregates; every strategy is
    lossless, so the output is identical either way):

    1. duplicate-collapse gate (dedup._exact_dup_collapse semantics on
       cell signatures): trajectories with IDENTICAL cell sets — the
       dominant population on crawl-style corpora; the sf1 replica
       rehearsal measured this entry at 1160 s without collapse —
       collapse to their min-id representative before pair enumeration
       and re-expand after, but ONLY when the measured duplicate ratio
       clears the gate: on dup-free corpora the collapse + expansion
       joins are pure overhead and are skipped.
    2. join-strategy rule (dedup.ngram_join_strategy on cell
       doc-frequencies) when the bitmask gate (_bitmask_allpairs)
       declines:
       uniform cell frequencies → dedup's count kernel (no rank
       window, no frequency join); a hotspot cell (max_df² ≥ Σ df) or
       aggregate blowup (Σ df² ≥ 32·Σ df) → dedup's AllPairs prefix
       kernel, which keeps the candidate count bounded because hot
       cells sort out of every prefix.

    Signature equality uses xxhash64 of the sorted cell array (2^-64
    collision class, like every hashed scheme here).
    """
    cells = trajectory_cells(pts, traj_col, lng_col, lat_col, cell_deg)
    # Persisted: feeds the collapse stats, the frequency table, and the
    # chosen join path — one scan of the point data, not three. Its
    # (traj, sh, n_sh) columns are dedup's set-frame shape.
    sig = _track_persist(
        cells.groupBy(traj_col)
        .agg(F.sort_array(F.collect_list("cell")).alias("sh"))
        .select(
            F.col(traj_col),
            F.col("sh"),
            F.size("sh").alias("n_sh"),
            F.xxhash64("sh").alias("__fp"),
        )
    )
    dstats = sig.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("__fp").alias("n_fp")
    ).first()
    n, n_fp = (dstats["n"] or 0), (dstats["n_fp"] or 0)
    if n_fp >= n * (1.0 - _COLLAPSE_MIN_DUP_RATIO):
        member, rep_sig = None, sig
    else:
        reps = sig.groupBy("__fp").agg(F.min(traj_col).alias("__rep"))
        member = _track_persist(
            sig.select(traj_col, "__fp")
            .join(reps, "__fp")
            .select(F.col(traj_col), F.col("__rep"), F.col("__fp"))
        )
        rep_sig = _track_persist(
            sig.join(reps.select(F.col("__rep").alias(traj_col)), traj_col, "left_semi")
        )
    exploded = rep_sig.select(traj_col, F.explode("sh").alias("g"))
    freq = _track_persist(exploded.groupBy("g").agg(F.count(F.lit(1)).alias("df_g")))
    fstats = freq.agg(
        F.count(F.lit(1)).alias("universe"),
        F.max("df_g").alias("max_df"),
        F.sum("df_g").alias("total"),
        F.sum(F.col("df_g") * F.col("df_g")).alias("sum_sq"),
    ).first()
    universe = fstats["universe"] or 0
    max_df, total = (fstats["max_df"] or 0), (fstats["total"] or 0)
    sum_sq = fstats["sum_sq"] or 0
    n_reps = n_fp if member is not None else n
    if (
        0 < universe <= _BITMASK_MAX_CELLS  # empty corpus: no pairs, any route
        and n_reps <= _BITMASK_MAX_REPS
        and n_reps * n_reps / 2 <= sum_sq
    ):
        # dense-similarity regime: the all-pairs volume is no worse
        # than the Σdf² candidate rows the other joins would SHUFFLE,
        # and bitmask popcounts beat array intersections per pair —
        # measured 30.3 s → ~3 s for the sf1 rep-pair stage
        rep_pairs = _bitmask_allpairs(
            exploded, freq, traj_col, threshold, universe
        )
    elif ngram_join_strategy(max_df, total, sum_sq) == "prefix":
        rep_pairs = _prefix_join(rep_sig, traj_col, threshold, freq)
    else:
        rep_pairs = _count_join(rep_sig, traj_col, threshold)
    # Intra-cluster emission is unconditional: every trajectory has ≥ 1
    # cell (a point always maps to a cell), so the empty-set Jaccard
    # case of the text twins cannot arise.
    return _expand_collapsed_pairs(rep_pairs, member, traj_col, "jaccard", F.lit(1.0))


def trajectory_topk_similar(
    pts: DataFrame,
    traj_col: str,
    lng_col: str,
    lat_col: str,
    query_ids: list,
    k: int = 5,
    cell_deg: float = 10.0,
) -> DataFrame:
    """Top-k most similar trajectories for each query trajectory
    (REPOSE's query shape): restrict one join side to the query set —
    the corpus side shuffles once on cell regardless of |queries|."""
    from pyspark.sql.window import Window as W

    cells = trajectory_cells(pts, traj_col, lng_col, lat_col, cell_deg)
    sizes = cells.groupBy(traj_col).agg(F.count(F.lit(1)).alias("n_cells"))
    q = cells.filter(F.col(traj_col).isin(query_ids))
    inter = (
        q.alias("q")
        .join(
            cells.alias("c"),
            (F.col("q.cell") == F.col("c.cell"))
            & (F.col(f"q.{traj_col}") != F.col(f"c.{traj_col}")),
        )
        .groupBy(F.col(f"q.{traj_col}").alias("q_id"), F.col(f"c.{traj_col}").alias("id"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sq = sizes.select(F.col(traj_col).alias("q_id"), F.col("n_cells").alias("n_q"))
    sc = sizes.select(F.col(traj_col).alias("id"), F.col("n_cells").alias("n_c"))
    scored = (
        inter.join(sq, "q_id")
        .join(sc, "id")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_q") + F.col("n_c") - F.col("n_inter")).cast("double"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("jaccard"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "id", "jaccard", "rank")
    )
