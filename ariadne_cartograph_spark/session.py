"""SparkSession factory with scale-oriented defaults.

Defaults here are tuned for correctness parity with an ANSI-SQL oracle
and for the 100 TB design posture described in SURVEY.md §4:

- AQE on (runtime join-strategy switch, skew-join splitting, partition
  coalescing) so the same declarative plan adapts from sf0.001 local
  runs to a 1000-executor cluster.
- Arrow on for the pandas-UDF paths (tile decode, multimodal).
- Session timezone pinned to UTC so timestamp semantics match a
  timezone-naive oracle (DuckDB / PostGIS both store naive timestamps).
- `nanosAsLong` so INT64 TIMESTAMP(NANOS) parquet (as written by modern
  Arrow) is readable; sources.tables converts to native timestamps.
"""

from __future__ import annotations

import atexit
import hashlib
import itertools
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import SparkSession

# Runtime-settable confs that every entry point (re-)applies, so the
# engine behaves identically whether it builds the session itself or is
# handed one by an external driver.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # timestamp[us] parquet with isAdjustedToUTC=false would otherwise
    # infer as TIMESTAMP_NTZ, which unix_micros()/watermarks reject.
    # Session tz is UTC, so reading it as TIMESTAMP preserves values.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


_WARNED_CONFS: set[str] = set()


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally built session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            # A conf that can't be applied (e.g. non-runtime-settable in a
            # foreign session) can silently skew oracle parity — warn once
            # per conf so the drift is visible, then continue.
            if k not in _WARNED_CONFS:
                _WARNED_CONFS.add(k)
                import warnings

                warnings.warn(f"could not apply runtime conf {k}={v}: {exc}")
    return spark


# The one place the package writes files (apart from the cross-process
# OSM fixture): a private per-process root, made on first use and
# removed at exit by the process that made it. Keyed directories sit
# directly under it; unkeyed ones sit under ``run/``, which
# release_session_state removes.
_ROOT: str | None = None
_SEQ = itertools.count()


def _root() -> str:
    global _ROOT
    if _ROOT is None:
        root = _ROOT = tempfile.mkdtemp(prefix="acs_work_")
        pid = os.getpid()

        def _remove() -> None:
            if os.getpid() == pid:  # not in a forked child
                shutil.rmtree(root, ignore_errors=True)

        atexit.register(_remove)
    return _ROOT


def work_dir(key: object = None, build: Callable[[str], None] | None = None) -> str:
    """A directory under this process's private work root.

    With ``key`` (any value with a stable ``repr``) the directory is a
    pure function of that key: the first call in the process runs
    ``build(scratch)`` on an empty scratch directory and renames it into
    place, so it is published only when complete and a ``build`` that
    raises leaves nothing behind. Later calls return it without
    building. It lasts as long as the process.

    Without ``key`` each call returns a fresh empty directory, for
    callers that write to it; release_session_state removes it."""
    root = _root()
    if key is None:
        path = os.path.join(root, "run", str(next(_SEQ)))
        os.makedirs(path)
        return path
    path = os.path.join(root, hashlib.sha256(repr(key).encode()).hexdigest()[:16])
    if not os.path.isdir(path):
        scratch = os.path.join(root, f"build_{next(_SEQ)}")
        os.makedirs(scratch)
        try:
            build(scratch)
        except BaseException:
            shutil.rmtree(scratch, ignore_errors=True)
            raise
        os.rename(scratch, path)
    return path


def release_session_state(spark: SparkSession) -> None:
    """Free what one catalog entry leaves behind — between sweep entries
    or bench repeats.

    Three kinds of per-run state: the shingle frames the near-dup
    builders persist (``dedup.release_caches``); the uuid-named temp
    views that streaming parity entries drain their memory sinks into,
    whose rows stay pinned in driver memory; and every unkeyed
    :func:`work_dir` (merge tables, band stores, replication roots,
    stream checkpoints). Keyed work directories (staged inputs) stay
    for the rest of the process. Call it only after the entry's result
    has been consumed: a returned plan may still read those files."""
    from .operators.dedup import release_caches

    release_caches()
    try:
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
    except Exception:
        pass
    if _ROOT is not None:
        shutil.rmtree(os.path.join(_ROOT, "run"), ignore_errors=True)


def get_spark(
    app_name: str = "ariadne-cartograph-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    local[N] here; on a real cluster the same confs apply — only
    master/deploy settings change.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ContextCleaner's periodic driver GC defaults to 30min — longer
        # than a whole 162-entry sweep, so shuffle files, broadcast
        # blocks, and localCheckpoint RDDs whose references are long
        # gone pile up and the late-alphabet entries measure eviction/GC
        # pressure instead of their plans (the r11 "in-context 2.2x"
        # phantom-flag class). 5min bounds the accumulation.
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return apply_runtime_confs(spark)
