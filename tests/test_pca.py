"""operators/pca.py — distributed PCA projection.

Pins: (1) partition-count independence of the integer Gram (the
determinism contract the oracle relies on), (2) agreement of the
trained direction with numpy's exact top eigenvector on a spectrally
well-separated corpus, (3) the degenerate zero-Gram guard, (4) the
int64-envelope assertion, (5) the Gram costs one Spark action, (6) the
streaming Gram equals the offline one, also across a crash, and (7)
the streaming catalog entry runs several micro-batches, writes only
under the per-process work root, and leaves nothing there once the
session state is released.
"""

from __future__ import annotations

import math
import os
import tempfile

import numpy as np
import pytest

from ariadne_cartograph_spark import session
from ariadne_cartograph_spark.operators.pca import (
    Q_SCALE,
    V_SCALE,
    gram_matrix,
    pca_power_project,
    power_iteration,
    quantize_vec,
)


def _mkdf(spark, X, parts=4):
    rows = [(i, [float(v) for v in x]) for i, x in enumerate(X)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(
        parts
    )


def test_gram_partition_independence(spark):
    rng = np.random.RandomState(3)
    X = rng.randn(200, 8).astype(np.float32) * 0.3
    import pyspark.sql.functions as F

    q = quantize_vec(F.col("embedding"))
    # the augmented q ++ [1] shape embedding_dim_correlation trains on
    qa = F.concat(q, F.array(F.lit(1).cast("long")))
    grams, aug = [], []
    for parts in (1, 3, 7, 13):
        df = _mkdf(spark, X, parts)
        grams.append(gram_matrix(df.select(q.alias("q")), "q"))
        aug.append(gram_matrix(df.select(qa.alias("q")), "q"))
    assert all(g == grams[0] for g in grams)
    assert all(g == aug[0] for g in aug)
    # and it equals the exact numpy int64 Gram of the same quantization
    Q = np.floor(X.astype(np.float64) * Q_SCALE + 0.5).astype(np.int64)
    assert grams[0] == (Q.T @ Q).tolist()
    Qa = np.hstack([Q, np.ones((len(Q), 1), dtype=np.int64)])
    assert aug[0] == (Qa.T @ Qa).tolist()


def test_gram_matrix_is_one_action(spark, spark_jobs):
    # a local multi-partition frame with no shuffle of its own, so the
    # Gram's own stages are all the probe sees: one action, one job
    X = np.random.RandomState(4).randint(-9, 9, (100, 8))
    rows = [([int(v) for v in x],) for x in X]
    df = spark.createDataFrame(rows, "q array<long>")
    assert df.rdd.getNumPartitions() > 1
    with spark_jobs() as probe:
        G = gram_matrix(df, "q")
    assert len(G) == 8
    assert probe.actions == 1
    assert len(probe.jobs) == 1, probe.jobs


def test_direction_matches_numpy_eigenvector(spark):
    # strongly 1-spike spectrum: power iteration converges in 3 steps
    rng = np.random.RandomState(11)
    d = 16
    u = rng.randn(d)
    u /= np.linalg.norm(u)
    X = np.outer(rng.randn(400) * 3.0, u) + rng.randn(400, d) * 0.05
    X = X.astype(np.float32)
    import pyspark.sql.functions as F

    df = _mkdf(spark, X).select(quantize_vec(F.col("embedding")).alias("q"))
    G = gram_matrix(df, "q")
    p = np.array(power_iteration(G), dtype=np.float64)
    p /= np.linalg.norm(p)
    w, V = np.linalg.eigh(np.array(G, dtype=np.float64))
    top = V[:, np.argmax(w)]
    assert abs(float(p @ top)) > 0.999


def test_projection_exact_integer_dot(spark):
    rng = np.random.RandomState(5)
    X = rng.randn(50, 6).astype(np.float32) * 0.4
    df = _mkdf(spark, X, 2)
    out = {
        r["vec_id"]: r["pc1"]
        for r in pca_power_project(df, ["vec_id"], "embedding").collect()
    }
    Q = np.floor(X.astype(np.float64) * Q_SCALE + 0.5).astype(np.int64)
    p = power_iteration((Q.T @ Q).tolist())
    for i in range(len(X)):
        assert out[i] == int(Q[i] @ np.array(p, dtype=np.int64))


def test_zero_gram_keeps_init_direction():
    G = [[0] * 4 for _ in range(4)]
    assert power_iteration(G) == [1, 0, 0, 0]


def test_int64_envelope_assertion():
    big = 2**62
    G = [[big, big], [big, big]]
    with pytest.raises(AssertionError, match="envelope"):
        power_iteration(G)


def test_gram_envelope_enforced_in_accumulation(spark):
    # r12 advice: the power-iteration assert cannot see a Gram entry
    # that already wrapped during the int64 X.T@X accumulation — the
    # partial itself must enforce sum(n·max|q|^2) < 2^63. Two rows of
    # ~sqrt(2^63) exceed the envelope and must raise, not wrap.
    from ariadne_cartograph_spark.operators.pca import gram_matrix

    big = 3_100_000_000  # big^2 > 2^63 / 2
    df = spark.createDataFrame([([big, 0],), ([big, 0],)], "q array<long>")
    with pytest.raises(Exception, match="envelope"):
        gram_matrix(df.repartition(1), "q")

    # each partition inside the envelope, their total outside: the
    # driver's cross-partition assert must fire before the numpy sum
    import pyspark.sql.functions as F

    half = 2_500_000_000  # half^2 < 2^63 < 2·half^2
    one_per_part = spark.range(0, 2, 1, 2).select(
        F.array(F.lit(half).cast("long"), F.lit(0).cast("long")).alias("q")
    )
    with pytest.raises(AssertionError, match="envelope exceeded across partitions"):
        gram_matrix(one_per_part, "q")

    # well inside the envelope: exact
    small = spark.createDataFrame([([3, 4],), ([1, 2],)], "q array<long>")
    assert gram_matrix(small, "q") == [[10, 14], [14, 20]]


def test_iteration_float_semantics_match_sql_formula():
    # floor(u * 32768.0 / m + 0.5) with huge ints: Python must follow
    # the same IEEE sequence the oracle uses (int->double once, exact
    # *2^15, one rounded divide). Spot-check a value where naive
    # rational arithmetic would differ in the last ulp.
    u, m = 3698123456789012345, 7396246913578024689
    got = math.floor(u * float(V_SCALE) / m + 0.5)
    want = math.floor((float(u) * 32768.0) / float(m) + 0.5)
    assert got == want


def _acs_entries():
    """The package's entries (``acs_*``) in the temp dir, other than
    the per-process work root."""
    root = os.path.basename(session._root())
    return {
        e for e in os.listdir(tempfile.gettempdir()) if e.startswith("acs_") and e != root
    }


def _stream_frame(spark, seed, n):
    import pyspark.sql.functions as F

    X = np.random.RandomState(seed).randn(n, 8).astype(np.float32) * 0.3
    rows = [(i, 0, [float(v) for v in x]) for i, x in enumerate(X)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    return df, gram_matrix(df.select(quantize_vec(F.col("embedding")).alias("q")), "q")


def test_streaming_gram_equals_batch_gram(spark, tmp_path):
    from ariadne_cartograph_spark.streaming.pca import streaming_gram

    df, batch_G = _stream_frame(spark, 9, 120)
    for n_files in (1, 2, 5):
        stage = str(tmp_path / f"stage{n_files}")
        df.repartition(n_files).write.mode("overwrite").parquet(stage)
        n_parts = len([f for f in os.listdir(stage) if f.endswith(".parquet")])
        assert n_parts == n_files
        work = str(tmp_path / f"work{n_files}")
        assert streaming_gram(spark, stage, work) == batch_G
        # one partial per micro-batch (one file per trigger)
        store = sorted(os.listdir(os.path.join(work, "gram")))
        assert store == [f"{b}.json" for b in range(n_files)]


@pytest.mark.slow
def test_streaming_gram_survives_mid_stream_crash(spark, tmp_path):
    """r12 verdict task #7: a batch crash AFTER its partial is written
    but BEFORE the commit — resume from the same checkpoint replays the
    batch (same id, same offsets), the overwrite keeps accumulation
    exactly-once, and the folded store equals the offline Gram
    bit-exactly (so the trained direction and every projection match)."""
    from ariadne_cartograph_spark.streaming.pca import _fold_store, streaming_gram

    df, offline_G = _stream_frame(spark, 21, 160)
    stage = str(tmp_path / "stage_crash")
    df.repartition(4).write.mode("overwrite").parquet(stage)
    work = str(tmp_path / "work")
    store = os.path.join(work, "gram")

    with pytest.raises(Exception, match="injected crash"):
        streaming_gram(spark, stage, work, fail_at_batch=2)
    # the crashed batch's partial IS on disk — the dangerous state
    assert os.path.isfile(os.path.join(store, "2.json"))
    assert _fold_store(store) != offline_G  # stream genuinely interrupted

    # resume from the same checkpoint: batch 2 replays (overwrite, not
    # double-count), batch 3 runs, and the total is exactly offline
    G = streaming_gram(spark, stage, work)
    assert G == offline_G
    assert power_iteration(G) == power_iteration(offline_G)


def test_stream_pca_entry_runs_batches_and_leaves_no_directory(spark, sf_dir):
    """The entry's purpose is a multi-batch stream: a listener sees at
    least two micro-batches. Its stage, checkpoint and partial store
    live under the work root, the returned plan still runs, and once
    the session state is released no unkeyed directory is left."""
    from pyspark.sql.streaming import StreamingQueryListener

    from ariadne_cartograph_spark.plans.text_queries import (
        embedding_stream_pca_parity,
    )

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.batches += 1

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    before = _acs_entries()
    listener = Progress()
    spark.streams.addListener(listener)
    try:
        df = embedding_stream_pca_parity(spark, sf_dir)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert listener.batches >= 2
    assert _acs_entries() == before
    assert df.count() > 0
    session.release_session_state(spark)
    assert not os.path.exists(os.path.join(session._root(), "run"))
    assert _acs_entries() == before
