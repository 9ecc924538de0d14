"""Skew-mitigation utilities (SURVEY.md §2 "skewed keys hurt" /
BASELINE 100 TB posture): explicit salting for the cases AQE's
skew-join splitting does not cover —

- **hash aggregation** on a skewed key: AQE splits skewed JOIN
  partitions, but a groupBy on one hot key still funnels every row of
  that key through a single reducer. Two-phase salted aggregation
  spreads phase 1 over ``n_salts`` reducers; phase 2 combines the tiny
  per-salt partials.
- **per-key top-k** on a skewed key, the same two-phase shape over a
  window.

Both are pure DataFrame rewrites — no RDDs, no custom partitioners —
so Catalyst/AQE still optimize around them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation: ``aggs`` maps output column →
    (input column, op) with op ∈ {sum, count, min, max}; these are the
    algebraic aggregates whose partials combine losslessly (count
    combines by sum). avg = sum/count composed by the caller.

    Salt is derived from the row's full content hash — uniform even
    when every row carries the SAME key (the pathological case).
    """
    combine = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    for out, (col, op) in aggs.items():
        if op not in combine:
            raise ValueError(f"{op} is not algebraic; use sum/count/min/max")

    salted = df.withColumn(
        _SALT, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )
    phase1 = salted.groupBy(*keys, _SALT).agg(
        *[
            getattr(F, op)(col).alias(out) if op != "count" else F.count(col).alias(out)
            for out, (col, op) in aggs.items()
        ]
    )
    return phase1.groupBy(*keys).agg(
        *[
            getattr(F, combine[op])(out).alias(out)
            for out, (col, op) in aggs.items()
        ]
    )


def salted_topk_per_key(
    df: DataFrame,
    keys: list[str],
    order_by: list,
    k: int,
    n_salts: int = 16,
) -> DataFrame:
    """Top-k rows per key without a full per-key window sort.

    ``row_number().over(partitionBy(key))`` funnels every row of a hot
    key through ONE reducer and sorts all of them — at crawl scale a
    single domain can be 10% of the corpus, and AQE does not split
    window partitions the way it splits joins. Two phases instead:

    1. window over (key, salt): each of the n_salts sub-partitions
       keeps its local top-k (bounded sort, parallel across salts);
    2. window over key on the ≤ n_salts·k survivors: exact top-k.

    Lossless for any k: a global top-k row is top-k within its salt
    bucket a fortiori. ``order_by`` must be a total order (add a
    unique id as the last column) or ties make the result
    nondeterministic — same contract as the plain window.
    """
    from pyspark.sql import Window

    ob = [c if not isinstance(c, str) else F.col(c) for c in order_by]
    salted = df.withColumn(
        _SALT, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )
    w1 = Window.partitionBy(*keys, _SALT).orderBy(*ob)
    local = (
        salted.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", _SALT)
    )
    w2 = Window.partitionBy(*keys).orderBy(*ob)
    return (
        local.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
