"""Route-equality tests for semantic_dedup's gated exact-duplicate
vector collapse (operators/similarity.py).

Lesson from the r11 advice applied here: the "naive" side is produced
by monkeypatching _VEC_COLLAPSE_MIN_DUP_RATIO to 1.0, which makes the
gate condition `n_reps < n * (1 - ratio)` = `n_reps < 0` — never true,
so the gate GENUINELY skips and the uncollapsed plan runs. (A ratio of
-1.0 would force the collapse path and compare the collapsed plan to
itself.) The collapse side runs at the default ratio on a corpus whose
measured duplication provably exceeds the gate, asserted explicitly.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

import ariadne_cartograph_spark.operators.similarity as S
from ariadne_cartograph_spark.operators.dedup import release_caches


def _mk_corpus(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _collect(df):
    return sorted((r["cell"], r["id"], r["is_dropped"]) for r in df.collect())


@pytest.fixture()
def dup_corpus(spark):
    # 6 distinct base vectors, each replicated 4x (ids interleaved so
    # reps are not contiguous), plus two zero vectors and two docs
    # whose vectors are near (cos ~0.999) but not identical.
    base = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.7, 0.7, 0.0, 0.0],
        [0.1, 0.2, 0.3, 0.4],
        [-1.0, 0.5, 0.25, 0.0],
    ]
    rows = []
    vid = 0
    for rep in range(4):
        for v in base:
            rows.append((vid, [x for x in v]))
            vid += 1
    rows.append((vid, [0.0, 0.0, 0.0, 0.0])); vid += 1
    rows.append((vid, [0.0, 0.0, 0.0, 0.0])); vid += 1
    rows.append((vid, [1.0, 0.001, 0.0, 0.0])); vid += 1
    rows.append((vid, [1.0, 0.002, 0.0, 0.0])); vid += 1
    return _mk_corpus(spark, rows)


def test_gate_premise_fires_on_dup_corpus(dup_corpus):
    n, n_reps = S._vec_dup_stats(dup_corpus, "vec_id", "embedding")
    assert n == 28
    # 6 distinct replicated vectors + 2 zero singletons + 2 near-dups
    assert n_reps == 10
    assert n_reps < n * (1.0 - S._VEC_COLLAPSE_MIN_DUP_RATIO)


@pytest.mark.parametrize("threshold", [0.35, 0.8])
@pytest.mark.parametrize("centroids", ["first", "hash"])
def test_collapse_equals_naive(dup_corpus, monkeypatch, threshold, centroids):
    try:
        collapsed = _collect(
            S.semantic_dedup(
                dup_corpus, "vec_id", "embedding",
                threshold=threshold, n_centroids=4, centroids=centroids,
            )
        )
        # ratio=1.0 -> gate never fires -> genuine uncollapsed plan
        monkeypatch.setattr(S, "_VEC_COLLAPSE_MIN_DUP_RATIO", 1.0)
        naive = _collect(
            S.semantic_dedup(
                dup_corpus, "vec_id", "embedding",
                threshold=threshold, n_centroids=4, centroids=centroids,
            )
        )
        assert collapsed == naive
        assert len(collapsed) == 28  # one row per corpus vector
    finally:
        release_caches()


def test_zero_vectors_never_collapse_or_drop(spark, monkeypatch):
    # Identical zero vectors have cosine 0, not 1 — the collapse must
    # not mark them dropped even though they are byte-identical dups.
    rows = [(i, [0.0, 0.0, 0.0]) for i in range(20)]
    rows += [(100 + i, [1.0, 2.0, 3.0]) for i in range(20)]  # real dups
    corpus = _mk_corpus(spark, rows)
    try:
        out = {r["id"]: r["is_dropped"] for r in S.semantic_dedup(
            corpus, "vec_id", "embedding", threshold=0.35, n_centroids=2,
            centroids="first",
        ).collect()}
        assert len(out) == 40
        for i in range(20):
            assert out[i] is False  # zero vectors all kept
        assert out[100] is False    # smallest id of the dup group kept
        for i in range(101, 120):
            assert out[i] is True   # every other exact dup dropped
    finally:
        release_caches()


def test_high_threshold_disables_collapse(dup_corpus, monkeypatch):
    # Above _VEC_COLLAPSE_MAX_THRESHOLD the f32 self-cosine of an
    # identical pair may fall below the threshold, so the gate must
    # leave the decision to the uncollapsed plan even on a corpus whose
    # duplication is far past the ratio gate. Genuine-route check (the
    # r11 vacuous-test lesson): the collapse route re-expands through
    # the __rep window assignment, the bypass route must not plan it.
    try:
        bypass_df = S.semantic_dedup(
            dup_corpus, "vec_id", "embedding",
            threshold=0.995, n_centroids=4, centroids="first",
        )
        plan = bypass_df._jdf.queryExecution().optimizedPlan().toString()
        assert "__rep" not in plan  # gate bypassed: no collapse
        assert len(bypass_df.collect()) == 28
        collapsed_df = S.semantic_dedup(
            dup_corpus, "vec_id", "embedding",
            threshold=0.35, n_centroids=4, centroids="first",
        )
        plan = collapsed_df._jdf.queryExecution().optimizedPlan().toString()
        assert "__rep" in plan  # same corpus below the guard: collapses
        assert len(collapsed_df.collect()) == 28
    finally:
        release_caches()


def test_cross_block_pairs_match_numpy(spark):
    # >1024 vectors in one cell: the within-cell scorer splits the cell
    # into two hash blocks, so qualifying pairs straddle blocks (ba < bb)
    # as well as sitting inside one. No exact duplicates, so the
    # collapse gate stays off. Oracle: f32 cosine >= threshold drops
    # the larger id of the pair.
    import random

    import numpy as np

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(1100)]
    corpus = _mk_corpus(spark, rows)
    threshold = 0.95
    mat = np.array([v for _, v in rows], dtype=np.float64)
    mat /= np.sqrt((mat * mat).sum(axis=1))[:, None]
    s32 = (mat @ mat.T).astype(np.float32)
    ii, jj = np.nonzero(np.triu(s32.astype(np.float64) >= threshold, k=1))
    want = set(jj.tolist())
    block = {
        r["vec_id"]: r["b"]
        for r in corpus.select(
            "vec_id", F.pmod(F.xxhash64("vec_id"), F.lit(2)).alias("b")
        ).collect()
    }
    assert any(block[i] != block[j] for i, j in zip(ii.tolist(), jj.tolist()))
    assert any(block[i] == block[j] for i, j in zip(ii.tolist(), jj.tolist()))
    try:
        out = {
            r["id"]: r["is_dropped"]
            for r in S.semantic_dedup(
                corpus, "vec_id", "embedding",
                threshold=threshold, n_centroids=1, centroids="first",
            ).collect()
        }
    finally:
        release_caches()
    assert len(out) == 1100
    assert {i for i, d in out.items() if d} == want
