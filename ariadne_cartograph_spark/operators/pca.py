"""Distributed PCA projection for embedding columns (north-star
"similarity/embedding ops" — dimensionality reduction before ANN, the
standard front-end of large-scale embedding pipelines).

Public scheme: principal component via power iteration on the Gram
matrix (Golub & Van Loan; the Spark-side structure follows the classic
"aggregate a d×d Gram in one pass, iterate on the driver" recipe every
distributed PCA uses — the model state is O(d²), never O(n)).

Determinism contract (same trick as the trained-IVF k-means in
operators/similarity.py / operators/pq.py): all cross-row arithmetic is
INTEGER. Embedding components are quantized once
(``floor(x·q_scale + 0.5)`` as int64); the Gram matrix is an exact
int64 sum of quantized products (associative → bit-identical across
partitionings AND engines); each power-iteration step re-quantizes the
iterate to ``v_scale`` by its max-abs component (the only float ops are
one IEEE multiply+divide per component per iteration, identical in any
IEEE-754 engine, so a DuckDB oracle replays the whole train bit-exactly
— see plans/quality_queries.embedding_pca_project).

Scale design:
- the Gram is ONE Spark action: an Arrow-batched ``mapInPandas``
  partial (one d×d int64 matmul per batch, numpy) emits one row per
  PARTITION — its raveled d×d partial as ``array<long>`` plus its
  envelope bound — and the driver ``collect()``s those rows and sums
  them in numpy; there is no ``groupBy(i, j)`` shuffle;
- the driver collect is #partitions·d² longs, independent of n (131k
  longs at d=64 on ``local[32]``), and the iteration is O(iters·d²) on
  the driver;
- the projection is a pure JVM column expression (zip_with/aggregate
  over the quantized array against d literal weights) — no Python in
  the per-row path, no second shuffle.

int64-overflow envelope (documented, asserted): |G_ij| ≤ n·(q_scale·
max|x|)²; the iteration needs d·|G|·v_scale < 2⁶³. With q_scale=2¹⁰,
v_scale=2¹⁵, d=64 and |x|≤1 that allows n up to ~4·10¹² rows — raise
``q_scale`` only with a matching row-count budget.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Q_SCALE = 1024  # 2^10 — embedding-component quantization
V_SCALE = 32768  # 2^15 — per-iteration iterate quantization


def quantize_vec(vec_col, q_scale: int = Q_SCALE):
    """floor(x·q_scale + 0.5) per component, as array<long> — the exact
    column twin of the oracle's list_transform."""
    return F.transform(
        vec_col, lambda x: F.floor(x * F.lit(float(q_scale)) + F.lit(0.5)).cast("long")
    )


def gram_matrix(df: DataFrame, qvec_col: str = "q") -> list[list[int]]:
    """Exact int64 Gram matrix of a quantized array<long> column.

    One action: per-Arrow-batch numpy int64 ``X.T @ X`` accumulated per
    partition, one (raveled d×d partial, bound) row per partition, a
    driver collect and a numpy sum. Integer sums are associative, so
    the result is independent of partitioning (test-pinned).

    Overflow envelope ENFORCED, not just documented (r12 advice): numpy
    int64 matmuls and sums wrap silently, and the 2⁶³ assert in
    power_iteration cannot see a Gram entry that already wrapped during
    accumulation. Each partition therefore tracks Σ_batches
    n_rows·max|q|² in unbounded Python ints and asserts it BEFORE every
    matmul (bounding the per-batch product, the partition accumulator
    and its emitted partial); the driver sums the partitions' bounds in
    Python ints and asserts the total BEFORE the numpy sum — every
    |G_ij| and every partial sum is at most that total, so no int64
    anywhere in the pipeline can have wrapped.
    """
    import numpy as np

    def partial(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        bound = 0  # unbounded Python int: Σ n_rows · max|q|² this partition
        for pdf in it:
            vals = pdf[qvec_col].values
            if len(vals) == 0:
                continue
            X = np.stack([np.asarray(v, dtype=np.int64) for v in vals])
            max_q = int(np.abs(X).max())
            bound += len(vals) * max_q * max_q
            assert bound < 2**63, (
                "int64 Gram envelope exceeded in-partition "
                f"(sum n·max|q|^2 = {bound}) — lower q_scale or rows"
            )
            g = X.T @ X
            acc = g if acc is None else acc + g
        if acc is not None:
            yield pd.DataFrame({"g": [acc.ravel()], "bound": [bound]})

    rows = (
        df.select(qvec_col)
        .mapInPandas(partial, schema="g array<long>, bound long")
        .collect()
    )
    if not rows:
        return []
    total_bound = sum(int(r["bound"]) for r in rows)
    assert total_bound < 2**63, (
        "int64 Gram envelope exceeded across partitions "
        f"(sum n·max|q|^2 = {total_bound}) — lower q_scale or rows"
    )
    G = np.array([r["g"] for r in rows], dtype=np.int64).sum(axis=0)
    d = math.isqrt(G.size)
    return G.reshape(d, d).tolist()


def power_iteration(G: list[list[int]], iters: int = 3, v_scale: int = V_SCALE) -> list[int]:
    """Fixed-init (e₁) quantized power iteration on an integer Gram.

    Each step: u = G·v in exact ints, then v = floor(u·v_scale/max|u| +
    0.5) — the only float arithmetic, one IEEE multiply+divide per
    component, replayable bit-exactly in SQL. Python ints are unbounded
    but the envelope is asserted against int64 so an engine summing in
    int64 (the oracle) can never silently diverge."""
    d = len(G)
    v = [1] + [0] * (d - 1)
    for _ in range(iters):
        u = [sum(G[i][j] * v[j] for j in range(d)) for i in range(d)]
        for ui in u:
            assert abs(ui) < 2**63, "int64 envelope exceeded — lower q_scale"
        m = max(abs(ui) for ui in u)
        if m == 0:  # zero Gram: degenerate input, keep the init direction
            return v
        v = [math.floor(ui * float(v_scale) / m + 0.5) for ui in u]
    return v


def project_direction(
    df: DataFrame,
    id_cols: list[str],
    vec_col: str,
    direction: list[int],
    q_scale: int = Q_SCALE,
) -> DataFrame:
    """Project each row's quantized embedding onto an integer direction:
    (id_cols..., pc1 bigint) — an exact integer dot product against d
    literals, JVM-side, deterministic across engines/partitionings."""
    q = quantize_vec(F.col(vec_col), q_scale)
    qdf = df.select(*id_cols, q.alias("q"))
    pw = F.array(*[F.lit(int(c)).cast("long") for c in direction])
    score = F.aggregate(
        F.zip_with(F.col("q"), pw, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return qdf.select(*id_cols, score.alias("pc1"))


def pca_power_project(
    df: DataFrame,
    id_cols: list[str],
    vec_col: str,
    q_scale: int = Q_SCALE,
    v_scale: int = V_SCALE,
    iters: int = 3,
) -> DataFrame:
    """Train (Gram + power iteration) then project — see module doc."""
    q = quantize_vec(F.col(vec_col), q_scale)
    qdf = df.select(q.alias("q"))
    G = gram_matrix(qdf, "q")
    p = power_iteration(G, iters=iters, v_scale=v_scale)
    return project_direction(df, id_cols, vec_col, p, q_scale)
