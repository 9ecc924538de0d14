"""Round-7 regression pins (VERDICT r6 "next round" items):

- cosine_topk's auto gate runs ONE combined count probe per call, and
  none when footer statistics or a caller hint decide (the r6
  fence-creep item).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ariadne_cartograph_spark.operators import similarity as S


@pytest.fixture()
def emb(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pair_counts_single_job(spark, emb, spark_jobs):
    q = emb.filter(F.col("vec_id") < 3)
    with spark_jobs() as probe:
        assert S._pair_counts(emb, q) == (40, 3)
    assert probe.actions == 1  # both counts in one job, not two
    assert S._pair_counts(emb, emb.filter(F.col("vec_id") < 5)) == (40, 5)


def test_merge_table_concurrent_writers_lose_no_update(spark, tmp_path):
    """Optimistic concurrency on the MERGE sink (r6 verdict missing #3):
    4 threads racing disjoint-key upserts against one table must ALL
    land — the plain last-writer-wins pointer flip silently dropped
    every loser's merge. Also checks version monotonicity and that a
    reader mid-race sees a consistent snapshot."""
    import threading

    from ariadne_cartograph_spark.operators.merge import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="gid")
    t.upsert(spark.createDataFrame([(0, 0.0)], "gid long, val double"))

    errs = []

    def writer(base):
        try:
            df = spark.createDataFrame(
                [(base * 100 + i, float(base)) for i in range(5)],
                "gid long, val double",
            )
            t.upsert(df)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(b,)) for b in (1, 2, 3, 4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    rows = {r.gid: r.val for r in t.read().collect()}
    for b in (1, 2, 3, 4):
        for i in range(5):
            assert rows[b * 100 + i] == float(b), (b, i)
    assert rows[0] == 0.0
    version, _ = t._current()
    assert version == 5  # initial + one committed transition per writer


def test_merge_table_time_travel_and_vacuum(spark, tmp_path):
    """Snapshot retention (the fix for the delete-under-a-running-scan
    race): commits retain prior versions within the grace window, every
    retained version is readable via read(version=...), and vacuum
    removes only versions that are BOTH beyond retain_versions AND past
    the grace age."""
    from ariadne_cartograph_spark.operators.merge import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="gid",
                          retain_versions=2, vacuum_grace_sec=3600.0)
    for v in (1, 2, 3):
        t.upsert(spark.createDataFrame([(1, float(v))], "gid long, val double"))
    # grace window: nothing vacuumed yet, all three versions readable
    assert t.history() == [1, 2, 3]
    assert t.read(1).collect()[0].val == 1.0
    assert t.read(2).collect()[0].val == 2.0
    assert t.read().collect()[0].val == 3.0
    # explicit vacuum past the grace: v1 falls outside retain_versions=2
    assert t.vacuum(grace_sec=0.0) == [1]
    assert t.history() == [2, 3]
    with pytest.raises(ValueError, match="vacuumed or never committed"):
        t.read(1)
    # retention floor: current version is never vacuumed
    assert t.vacuum(retain_versions=1, grace_sec=0.0) == [2]
    assert t.read().collect()[0].val == 3.0


def test_merge_table_txn_idempotent_replay(spark, tmp_path):
    """Exactly-once streaming sink: a replayed (app, batch_id) — the
    foreachBatch retry case — must be skipped; a new batch id commits;
    a second app's txn state is independent; high-water marks survive
    carry-forward across later commits."""
    from ariadne_cartograph_spark.operators.merge import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="gid")
    sink = t.streaming_sink("appA")
    sink(spark.createDataFrame([(1, 10.0)], "gid long, val double"), 0)
    v_after_first, _ = t._current()
    # replay of batch 0 (sink failure → Structured Streaming re-runs it)
    sink(spark.createDataFrame([(1, 99.0)], "gid long, val double"), 0)
    assert t._current()[0] == v_after_first  # no new commit
    assert t.read().collect()[0].val == 10.0  # replay did not re-apply
    # next batch commits
    sink(spark.createDataFrame([(2, 20.0)], "gid long, val double"), 1)
    assert {r.gid: r.val for r in t.read().collect()} == {1: 10.0, 2: 20.0}
    # a different app is tracked independently, even at batch id 0
    assert t.upsert(
        spark.createDataFrame([(3, 30.0)], "gid long, val double"),
        txn_app="appB", txn_version=0,
    )
    # appA's high-water mark was carried through appB's commit
    assert not t.upsert(
        spark.createDataFrame([(1, -1.0)], "gid long, val double"),
        txn_app="appA", txn_version=1,
    )
    assert {r.gid: r.val for r in t.read().collect()} == {
        1: 10.0, 2: 20.0, 3: 30.0
    }


def test_merge_table_stale_marker_takeover(spark, tmp_path):
    """A winner that crashed between claiming the commit marker and
    flipping the pointer must not wedge the table: the marker ages out
    and a later writer takes the slot."""
    import os

    from ariadne_cartograph_spark.operators.merge import ParquetMergeTable

    t = ParquetMergeTable(spark, str(tmp_path / "tbl"), key="gid",
                          stale_marker_sec=0.2)
    t.upsert(spark.createDataFrame([(1, 1.0)], "gid long, val double"))
    v, _ = t._current()
    # simulate a crashed winner holding the next slot
    marker = os.path.join(t.path, f"_COMMIT.v{v + 1:09d}")
    with open(marker, "w") as f:
        f.write("0")
    os.utime(marker, (0, 0))  # ancient
    t.upsert(spark.createDataFrame([(2, 2.0)], "gid long, val double"))
    rows = {r.gid: r.val for r in t.read().collect()}
    assert rows == {1: 1.0, 2: 2.0}


def test_footer_rows_statistics(spark):
    """Zero-job routing statistics: exact count for a bare parquet
    scan, upper bound under a filter, no answer for non-file plans."""
    from ariadne_cartograph_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    exact, ub = S._footer_rows(emb)
    assert exact == n and ub == n
    filt = emb.filter(F.col("vec_id") < 5)
    exact_f, ub_f = S._footer_rows(filt)
    assert exact_f is None and ub_f == n  # bound, not exact
    local = emb.sparkSession.createDataFrame([(1,)], "x int")
    assert S._footer_rows(local) == (None, None)
    joined = emb.join(emb.select(F.col("vec_id").alias("v2")), emb.vec_id == F.col("v2"))
    assert S._footer_rows(joined) == (None, None)  # cardinality-changing


def test_route_topk_footer_fast_paths(spark, spark_jobs):
    """The router decides from footer statistics without a count job
    when it can: exact×exact above/below threshold, and small upper
    bounds that cannot reach the blocked zone."""
    from ariadne_cartograph_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    filt = emb.filter(F.col("vec_id") < 5)
    with spark_jobs() as probe:
        # exact×exact: decide either way
        assert S._route_topk(emb, emb, n * n + 1) == ("crossjoin", (n, n))
        assert S._route_topk(emb, emb, n * n) == ("blocked", (n, n))
        # ub×ub below threshold: the filter side has only a bound
        assert S._route_topk(emb, filt, n * n + 1) == ("crossjoin", None)
    assert probe.jobs == []
    # ambiguous (bound straddles): falls back to one count job
    with spark_jobs() as probe:
        assert S._route_topk(emb, filt, n * 5 + 1) == ("crossjoin", (n, 5))
    assert probe.actions == 1


@pytest.mark.slow
def test_kmeans_centroids_partition_independent(spark):
    """The quantized-integer centroid update: trained centroids must be
    BIT-identical across partitionings (associative integer sums) —
    the property that lets the trained-IVF entry carry a full DuckDB
    replay oracle."""
    from ariadne_cartograph_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    c1 = S.kmeans_centroids(emb, "embedding", n_centroids=8, n_iter=3, init="first")
    c7 = S.kmeans_centroids(
        emb.repartition(7), "embedding", n_centroids=8, n_iter=3, init="first"
    )
    cs = S.kmeans_centroids(
        emb.repartition(1), "embedding", n_centroids=8, n_iter=3, init="first"
    )
    assert c1 == c7 == cs  # exact float equality, not approx


def test_rolling_fingerprint_md5_matches_python(spark):
    """Independent plain-Python oracle for the md5 winnowing twin
    (min-of-md5 over word 8-shingles; md5-of-text fallback below 8
    tokens; null-safe)."""
    import hashlib
    import re

    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "short text"),
        (3, None),
    ]
    from ariadne_cartograph_spark.functions.text import rolling_fingerprint_md5

    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", rolling_fingerprint_md5("text").alias("fp")
        ).collect()
    }

    def py_fp(t):
        if t is None:
            return None
        toks = re.split(r"\s+", t)
        if len(toks) >= 8:
            return min(
                hashlib.md5(" ".join(toks[i : i + 8]).encode()).hexdigest()
                for i in range(len(toks) - 7)
            )
        return hashlib.md5(t.encode()).hexdigest()

    for i, t in texts:
        assert got[i] == py_fp(t), i


def test_queries_count_hint_jobless_and_exact(spark, spark_jobs):
    """The F.broadcast-style cardinality hint: with queries_count_hint
    a filtered (footer-opaque) query side routes with ZERO probe jobs,
    and the result is identical to the explicit-strategy plan. A wrong
    hint only flips between two exact plans — results still identical."""
    from ariadne_cartograph_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    with spark_jobs() as probe:
        hinted_df = S.cosine_topk(
            emb, q, "vec_id", "embedding", k=5, query_id_col=None,
            queries_count_hint=1,
        )
    assert probe.jobs == []  # routed without a probe job
    hinted = hinted_df.collect()
    explicit = S.cosine_topk(
        emb, q, "vec_id", "embedding", k=5, query_id_col=None,
        strategy="crossjoin",
    ).collect()
    assert sorted(map(tuple, hinted)) == sorted(map(tuple, explicit))
    # wrong hint (forces blocked): exact plans stay hash-identical
    wrong = S.cosine_topk(
        emb, q, "vec_id", "embedding", k=5, query_id_col=None,
        queries_count_hint=10**9,
    ).collect()
    assert sorted(map(tuple, wrong)) == sorted(map(tuple, explicit))


def test_blocked_topk_builds_on_the_probe_counts(spark, emb, spark_jobs, monkeypatch):
    """An auto-routed blocked top-k sizes its block grids from the
    router's counts: building it runs the one probe action and no
    count of its own. An explicit strategy="blocked" counts (one
    action); both return the crossjoin result."""
    monkeypatch.setattr(S, "BLOCKED_TOPK_MIN_PAIRS", 10)
    calls = []
    real = S._cosine_topk_blocked
    monkeypatch.setattr(
        S, "_cosine_topk_blocked", lambda *a, **k: calls.append(1) or real(*a, **k)
    )
    q = emb.filter(F.col("vec_id") < 3)
    with spark_jobs() as probe:
        auto = S.cosine_topk(emb, q, "vec_id", "embedding", k=4, block_rows=16)
    assert calls and probe.actions == 1
    with spark_jobs() as probe:
        explicit = S.cosine_topk(
            emb, q, "vec_id", "embedding", k=4, strategy="blocked", block_rows=16
        )
    assert probe.actions == 1
    cross = S.cosine_topk(emb, q, "vec_id", "embedding", k=4, strategy="crossjoin")
    want = sorted(map(tuple, cross.collect()))
    assert sorted(map(tuple, auto.collect())) == want
    assert sorted(map(tuple, explicit.collect())) == want


def test_auto_route_matches_explicit_crossjoin(spark, emb):
    """Below threshold the gate routes to crossjoin: result identical
    to the explicit-strategy run."""
    q = emb.filter(F.col("vec_id") == 0)
    auto = S.cosine_topk(emb, q, "vec_id", "embedding", k=5).collect()
    explicit = S.cosine_topk(
        emb, q, "vec_id", "embedding", k=5, strategy="crossjoin"
    ).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, explicit))


def test_rolling_fingerprint_fold_edges_match_python(spark):
    """Edge cases for the r10 fold-min rewrite of both fingerprint
    twins (no shingle/hash arrays materialized): empty string, exactly
    7/8/9 tokens, leading/trailing/multiple whitespace (the \\s+ split
    emits empty tokens — the fold must hash the identical shingle
    strings the array form did), unicode, and a single repeated token
    (min over all == min over distinct)."""
    import hashlib
    import re

    from ariadne_cartograph_spark.functions.text import (
        rolling_fingerprint,
        rolling_fingerprint_md5,
    )

    texts = [
        (1, ""),
        (2, "a b c d e f g"),          # 7 tokens: md5(text) fallback
        (3, "a b c d e f g h"),        # exactly one 8-shingle
        (4, "a b c d e f g h i"),      # two shingles
        (5, "  leading and trailing  whitespace  makes empty   tokens x y z"),
        (6, "x " * 50),                # trailing space → empty last token
        (7, "héllo wörld ünïcode tokens ärê fine too yes and more"),
        (8, " ".join(["same"] * 20)),  # all shingles identical
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r.doc_id: (r.fp_md5, r.fp_xx)
        for r in df.select(
            "doc_id",
            rolling_fingerprint_md5("text").alias("fp_md5"),
            rolling_fingerprint("text").alias("fp_xx"),
        ).collect()
    }

    def py_md5(t):
        toks = re.split(r"\s+", t)
        if len(toks) < 8:
            return hashlib.md5(t.encode()).hexdigest()
        return min(
            hashlib.md5(" ".join(toks[i : i + 8]).encode()).hexdigest()
            for i in range(len(toks) - 7)
        )

    for doc_id, text in texts:
        assert got[doc_id][0] == py_md5(text), f"doc {doc_id}"
        assert got[doc_id][1] is not None
    # identical-shingle doc: fold min equals the single shingle's hash
    assert got[8][0] == hashlib.md5((" ".join(["same"] * 8)).encode()).hexdigest()
