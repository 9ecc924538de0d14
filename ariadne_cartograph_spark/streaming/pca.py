"""Streaming/incremental PCA training (T6-style incremental twin of
operators/pca.py): the int64 Gram matrix is ASSOCIATIVE, so per-batch
Gram partials accumulated across an availableNow stream sum to exactly
the batch-mode Gram — the trained direction and every projection are
bit-identical to the offline train, which is what the parity catalog
entry (plans/text_queries.embedding_stream_pca_parity) pins against the
same DuckDB oracle as the batch entry.

This is the standard production shape for model-state maintenance over
an append-only embedding store: each micro-batch contributes a d²
integer increment (model-sized — the driver state is 64×64 longs, never
O(rows)), and retraining after any number of batches is a driver-side
O(iters·d²) pass with no replay of historical data.

One streamer, :func:`streaming_gram`, serves both the catalog entry and
restarts after a crash. Each micro-batch runs the one-action
:func:`operators.pca.gram_matrix` and stores its d² partial on the
driver as one small JSON file named by the batch id, in a partial store
next to the stream checkpoint under ``work_dir``. foreachBatch is
at-least-once: after a crash the restarted query replays the
uncommitted batch with the SAME id over the SAME file-source offset
range, and the replay overwrites that batch's file, so accumulation is
exactly-once. The streamer returns the fold of the store in unbounded
Python ints. No Spark job writes or reads the store: it is #batches·d²
longs, written with a temp name and ``os.replace``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.pca import Q_SCALE, gram_matrix, quantize_vec
from ..sources.tables import load_table

# The streamer reads only the embedding column; declaring it skips the
# schema-inference job a read of the stage would run.
_STREAM_SCHEMA = "embedding array<float>"


def stage_embeddings_as_stream_source(
    spark: SparkSession, sf_dir: str, stage_dir: str, n_files: int = 4
) -> None:
    """Rewrite the embeddings table as n_files parquet files so a
    file-source stream replays it as (at least) n_files micro-batches
    with maxFilesPerTrigger=1."""
    emb = load_table(spark, sf_dir, "embeddings")
    emb.repartition(n_files).write.mode("overwrite").parquet(stage_dir)


def streaming_gram(
    spark: SparkSession,
    stage_dir: str,
    work_dir: str,
    q_scale: int = Q_SCALE,
    fail_at_batch: int | None = None,
) -> list[list[int]]:
    """Exact integer Gram of the ``embedding array<float>`` column of an
    availableNow file stream over ``stage_dir`` (one file per
    micro-batch). The checkpoint and the per-batch partial store live
    under ``work_dir``; calling again with the same ``work_dir`` after a
    crash resumes the stream and returns the same Gram as a clean run.

    ``fail_at_batch``: test hook — raise AFTER writing that batch's
    partial (the hard case: state persisted, commit lost)."""
    from pyspark.sql import functions as F

    store = os.path.join(work_dir, "gram")
    os.makedirs(store, exist_ok=True)

    def _process(batch: DataFrame, batch_id: int) -> None:
        qdf = batch.select(quantize_vec(F.col("embedding"), q_scale).alias("q"))
        G = gram_matrix(qdf, "q")
        if G:
            path = os.path.join(store, f"{batch_id}.json")
            with open(path + ".tmp", "w") as f:
                json.dump(G, f)
            os.replace(path + ".tmp", path)
        if fail_at_batch is not None and batch_id == fail_at_batch:
            raise RuntimeError(f"injected crash after batch {batch_id}")

    q = (
        spark.readStream.schema(_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(work_dir, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _fold_store(store)


def _fold_store(store: str) -> list[list[int]]:
    """Fold the per-batch partial store into the total Gram. The
    cross-batch sum runs in unbounded Python ints (each batch partial
    is an exact, envelope-asserted int64 aggregate; their SUM may not
    fit int64), then the int64 envelope is re-asserted on the total for
    oracle replayability."""
    G: list[list[int]] = []
    for name in sorted(os.listdir(store)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(store, name)) as f:
            part = json.load(f)
        if not G:
            G = part
            continue
        for row, prow in zip(G, part):
            for j, s in enumerate(prow):
                row[j] += s
    for row in G:
        for s in row:
            assert abs(s) < 2**63, "int64 Gram envelope exceeded — lower q_scale"
    return G
