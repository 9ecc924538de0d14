"""Key-matched upsert / MERGE (SURVEY.md §2.1 S4, §2.2 J1).

The reference's sink is `INSERT … ON CONFLICT (gid) DO UPDATE SET col =
excluded.col` (`/root/reference/update_ways_metadata.py:50-54`). With
plain parquet (no Delta in this environment — checked SURVEY.md §4.2),
the engine provides the same semantics as a pure dataflow:

    merged = existing FULL OUTER JOIN updates ON key
             → update cols: coalesce(updates.col, existing.col)
             → other  cols: existing.col

plus an atomic-swap writer for persistence. Per-column upsert matches
the reference exactly: a run that only computes `popularity` must not
null out `greenery` (column-wise coalesce, not row replacement).

Scale: the join shuffles both sides on the key — the same cost Delta
MERGE pays in its join phase; with both tables bucketed by key it
becomes co-located.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def merge_into(
    existing: DataFrame | None,
    updates: DataFrame,
    key: str,
    update_cols: list[str] | None = None,
) -> DataFrame:
    """ON CONFLICT (key) DO UPDATE semantics as a DataFrame transform.

    ``existing`` may be None (first run → pure insert). Columns present
    only in one side are carried through (missing side contributes
    NULL).
    """
    if update_cols is None:
        update_cols = [c for c in updates.columns if c != key]
    if existing is None:
        return updates
    e = existing.alias("e")
    u = updates.select(key, *update_cols).alias("u")
    joined = e.join(u, F.col(f"e.{key}") == F.col(f"u.{key}"), "full_outer")
    out_cols = [F.coalesce(F.col(f"e.{key}"), F.col(f"u.{key}")).alias(key)]
    for c in existing.columns:
        if c == key:
            continue
        if c in update_cols:
            out_cols.append(F.coalesce(F.col(f"u.{c}"), F.col(f"e.{c}")).alias(c))
        else:
            out_cols.append(F.col(f"e.{c}").alias(c))
    for c in update_cols:
        if c not in existing.columns:
            out_cols.append(F.col(f"u.{c}").alias(c))
    return joined.select(*out_cols)


class ParquetMergeTable:
    """A parquet-backed table with upsert + atomic swap — the engine's
    `ways_metadata` sink (`/root/reference/sql/ways_metadata.ddl`).

    Writes go to a fresh directory, then a versioned pointer file flips
    — readers resolve the pointer first, so a crash mid-write never
    corrupts the visible table (snapshot isolation for readers).

    Concurrent writers serialize through optimistic concurrency: a
    writer that read version n may flip the pointer to n+1 only after
    winning an O_EXCL commit marker for that exact transition — the
    same read-version / try-commit / retry-on-conflict protocol Delta
    Lake's commit file implements. Losers re-read the new current
    state, RE-MERGE their updates against it, and compete for the next
    slot, so no upsert is ever silently lost (the failure mode of the
    plain last-writer-wins flip). A crashed winner's marker is taken
    over after ``stale_marker_sec`` if the pointer never advanced.
    Delta/Iceberg replace this wholesale when available.

    Committed snapshots are RETAINED, not deleted at commit: a commit
    only vacuums versions older than the newest ``retain_versions``
    AND older than ``vacuum_grace_sec`` on disk. This is Delta's
    log/file-retention model, and it is load-bearing for concurrency:
    a concurrent reader (or a LOSING writer, whose merge job lazily
    scans the base snapshot while the winner commits) must never have
    parquet files removed underneath a running scan. It also makes
    every retained version readable — ``read(version=n)`` /
    ``history()`` time travel.

    Streaming exactly-once: ``upsert`` takes Delta-style transaction
    identity (``txn_app``, ``txn_version``). Each snapshot records the
    high-water batch id per writer app in its manifest, carried
    forward across commits; a replayed ``foreachBatch`` batch id
    (micro-batch retry after sink failure) is detected against the
    then-current snapshot inside the OCC loop and skipped, so
    readStream → foreachBatch(:meth:`streaming_sink`) is effectively
    exactly-once end-to-end.

    Layout: a committed snapshot is a JSON **manifest** listing the
    immutable data directories that make it up — never the directories
    themselves. With ``n_buckets=None`` (default) each commit writes
    one whole-table directory, the right plan for dimension-sized
    tables. With ``n_buckets=N`` the table is hash-bucketed on the key
    (``pmod(xxhash64(key), N)``) and an upsert is **copy-on-write at
    bucket granularity**: only buckets that contain updated keys are
    scanned, merged, and rewritten; every other bucket's files are
    carried into the new manifest by reference. This is the property
    that makes MERGE usable at 100 TB — a small batch against a huge
    table costs O(touched buckets), not O(table), exactly like Delta
    MERGE rewriting only the files its join touched. The bucket count
    is fixed at the table's first commit (recorded in the manifest,
    authoritative thereafter) because the key→bucket map must be
    stable across the table's lifetime.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str,
        stale_marker_sec: float = 60.0,
        retain_versions: int = 2,
        vacuum_grace_sec: float = 600.0,
        n_buckets: int | None = None,
        stats_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key = key
        self.stale_marker_sec = stale_marker_sec
        self.retain_versions = max(1, retain_versions)
        self.vacuum_grace_sec = vacuum_grace_sec
        self.n_buckets = n_buckets
        # Delta/Iceberg-style file statistics: when set, every commit
        # records per-data-file (min, max, nulls, rows) for these
        # columns in the manifest, computed by scanning ONLY the files
        # that commit wrote (carried-forward buckets keep their stats
        # entries by reference, like the data itself). `read_pruned`
        # then skips files a predicate provably cannot match — the scan
        # side of the O(touched buckets) story: an incremental consumer
        # (`updated_at > T`) reads only buckets written since T.
        self.stats_cols = list(stats_cols) if stats_cols else []
        os.makedirs(path, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    @property
    def _log(self) -> str:
        """Append-only commit log (one ``<version> <manifest>`` line per
        committed transition, O_APPEND-atomic). The pointer file is the
        atomic 'current' resolution; the log is the version→manifest
        history that time travel and vacuum read. A crashed loser's
        abandoned candidate manifest is never logged, so it can't
        masquerade as a committed version."""
        return os.path.join(self.path, "_LOG")

    def _current(self) -> tuple[int, str | None]:
        """(version, manifest path) of the visible snapshot; (0, None)
        when the table is empty. The pointer names a manifest
        ``m_<version>_<uid>.json``."""
        if not os.path.exists(self._pointer):
            return 0, None
        with open(self._pointer) as f:
            name = f.read().strip()
        d = os.path.join(self.path, name)
        if not os.path.exists(d):
            return 0, None
        return int(name.split("_")[1]), d

    def _read_manifest(self, ref: str | None) -> dict:
        """Normalize a snapshot reference to
        ``{version, n_buckets, data: [relpaths], buckets: {id: rel},
        txn: {app: ver}}``. ``ref`` is a manifest JSON path, or None
        (empty table)."""
        import json as _json

        if ref is None:
            return {
                "version": 0,
                "n_buckets": self.n_buckets,
                "data": [],
                "buckets": {},
                "txn": {},
                "stats": {},
            }
        with open(ref) as f:
            m = _json.load(f)
        m.setdefault("buckets", {})
        m.setdefault("txn", {})
        m.setdefault("stats", {})
        return m

    def _read_paths(self, rels: list[str]) -> DataFrame | None:
        """Scan the given data relpaths as one DataFrame. Multi-path
        scans merge schemas so buckets written before a column was
        added read it as NULL (correct: their rows never got that
        update)."""
        if not rels:
            return None
        paths = [os.path.join(self.path, r) for r in rels]
        reader = self.spark.read
        if len(paths) > 1:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    _JSON_SCALARS = (int, float, str, bool)

    def _manifest_stats(
        self, old_m: dict, new_data: list[str], dname: str, wrote: bool
    ) -> dict:
        """Per-data-file column stats for the manifest being committed.
        Surviving rels carry their old stats entry by reference; rels
        the commit just wrote (everything under ``dname``) are scanned
        back — a read of ONLY the new files, never a recompute of the
        merge join — and aggregated in one job (≤ n_buckets result
        rows; model-sized collect). Min/max values that don't survive
        JSON (timestamps as objects, decimals, binaries) are stored as
        None with the true null count, which the pruner reads as
        'unknown: keep' — stats can only widen to safety, never lie.
        """
        old = old_m.get("stats", {})
        out = {
            r: old[r]
            for r in new_data
            if r in old and not r.startswith(f"{dname}/") and r != dname
        }
        fresh = [r for r in new_data if r.startswith(f"{dname}/") or r == dname]
        if not wrote or not fresh or not self.stats_cols:
            return out
        try:
            df = self.spark.read.parquet(os.path.join(self.path, dname))
        except Exception:
            return out  # schema-less empty write (e.g. delete-all): no stats
        cols = [c for c in self.stats_cols if c in df.columns]
        if not cols:
            return out
        # Sub-rel partition column: __bucket (hash COW layout) or
        # __cluster (optimize()'s range-clustered rewrite) — either
        # way, one stats entry per sub-directory rel.
        part_col = next(
            (pc for pc in ("__bucket", "__cluster") if any(f"/{pc}=" in r for r in fresh)),
            None,
        )
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs += [
                F.min(c).alias(f"__min_{c}"),
                F.max(c).alias(f"__max_{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"),
            ]
        if part_col:
            rows = df.groupBy(part_col).agg(*aggs).collect()
        else:
            rows = [df.agg(*aggs).collect()[0]]
        for r in rows:
            rel = f"{dname}/{part_col}={r[part_col]}" if part_col else dname
            ent: dict = {}
            for c in cols:
                lo, hi = r[f"__min_{c}"], r[f"__max_{c}"]
                ok = isinstance(lo, self._JSON_SCALARS) and isinstance(
                    hi, self._JSON_SCALARS
                )
                ent[c] = {
                    "min": lo if ok else None,
                    "max": hi if ok else None,
                    "nulls": int(r[f"__nulls_{c}"]),
                    "rows": int(r["__rows"]),
                }
            out[rel] = ent
        return out

    def _logged(self) -> dict[int, str]:
        """version → manifest name for every logged commit whose manifest
        still exists (vacuumed versions drop out), plus the current pointer
        (covers a winner that crashed between flip and log append)."""
        out: dict[int, str] = {}
        if os.path.exists(self._log):
            with open(self._log) as f:
                for line in f:
                    parts = line.split()
                    if len(parts) == 2 and os.path.exists(
                        os.path.join(self.path, parts[1])
                    ):
                        out[int(parts[0])] = parts[1]
        cur_v, cur_d = self._current()
        if cur_d:
            out[cur_v] = os.path.basename(cur_d)
        return out

    def history(self) -> list[int]:
        """Readable (retained) versions, oldest first."""
        return sorted(self._logged())

    def _manifest_for(self, version: int | None) -> dict:
        """Resolve ``version`` (None = current) to its manifest dict,
        raising for vacuumed / never-committed versions."""
        if version is None:
            return self._read_manifest(self._current()[1])
        logged = self._logged()
        if version not in logged:
            raise ValueError(
                f"version {version} is not readable (retained: "
                f"{sorted(logged)}) — vacuumed or never committed"
            )
        return self._read_manifest(os.path.join(self.path, logged[version]))

    def read(self, version: int | None = None) -> DataFrame | None:
        """Current snapshot, or time-travel to a retained ``version``
        (raises if that version was vacuumed or never committed)."""
        return self._read_paths(self._manifest_for(version)["data"])

    _PRUNE_OPS = ("=", "<", "<=", ">", ">=", "in", "is_null", "is_not_null")

    @staticmethod
    def _stat_maybe_matches(stat: dict, op: str, val) -> bool:
        """Can ANY row of a file with these column stats satisfy the
        predicate? False only on proof of impossibility — unknown
        ranges (None min/max with non-null rows) and cross-type
        comparisons answer True. SQL NULL semantics: comparison ops
        never match NULL rows, so an all-null file is skippable."""
        lo, hi = stat["min"], stat["max"]
        nonnull = stat["rows"] - stat["nulls"]
        if op == "is_null":
            return stat["nulls"] > 0
        if op == "is_not_null":
            return nonnull > 0
        if nonnull == 0:
            return False
        if lo is None or hi is None:
            return True  # range unknown (non-JSON-able type): keep
        try:
            if op == "=":
                return lo <= val <= hi
            if op == "in":
                return any(lo <= v <= hi for v in val)
            if op == "<":
                return lo < val
            if op == "<=":
                return lo <= val
            if op == ">":
                return hi > val
            if op == ">=":
                return hi >= val
        except TypeError:
            return True  # incomparable literal type: keep
        return True

    def _check_predicates(self, predicates) -> None:
        for p in predicates:
            if len(p) not in (2, 3) or p[1] not in self._PRUNE_OPS:
                raise ValueError(
                    f"predicate {p!r}: want (col, op[, value]) with op in "
                    f"{self._PRUNE_OPS}"
                )

    def prune_report(
        self, predicates, version: int | None = None
    ) -> tuple[list[str], list[str]]:
        """(kept, skipped) data relpaths for a conjunction of simple
        predicates ``(col, op, value)`` — op in :data:`_PRUNE_OPS`,
        ``is_null``/``is_not_null`` take no value — evaluated against
        the manifest's file stats. Driver-side metadata only: no Spark
        job, no file I/O. Files without stats for a referenced column
        are always kept."""
        self._check_predicates(predicates)
        m = self._manifest_for(version)
        stats = m.get("stats", {})
        kept, skipped = [], []
        for rel in m["data"]:
            ent = stats.get(rel, {})
            drop = any(
                p[0] in ent
                and not self._stat_maybe_matches(
                    ent[p[0]], p[1], p[2] if len(p) == 3 else None
                )
                for p in predicates
            )
            (skipped if drop else kept).append(rel)
        return kept, skipped

    @staticmethod
    def _pred_expr(col: str, op: str, val) -> F.Column:
        c = F.col(col)
        if op == "=":
            return c == F.lit(val)
        if op == "in":
            return c.isin(list(val))
        if op == "<":
            return c < F.lit(val)
        if op == "<=":
            return c <= F.lit(val)
        if op == ">":
            return c > F.lit(val)
        if op == ">=":
            return c >= F.lit(val)
        if op == "is_null":
            return c.isNull()
        return c.isNotNull()

    def read_pruned(
        self, predicates, version: int | None = None
    ) -> DataFrame | None:
        """Filtered snapshot scan with manifest-stats file skipping:
        identical rows to ``read().where(AND(predicates))``, but files
        the stats prove irrelevant are never listed in the scan. This
        is what makes the incremental-consumer read O(touched buckets):
        with ``updated_at`` in ``stats_cols``, ``read_pruned([(
        "updated_at", ">", T)])`` skips every bucket carried forward
        unchanged since T, exactly mirroring the write side's
        copy-on-write cost. The full predicate is still applied to the
        surviving files, so results are exact whether or not any file
        was skipped. Returns None for an empty table."""
        self._check_predicates(predicates)
        m = self._manifest_for(version)
        if not m["data"]:
            return None
        kept, _ = self.prune_report(predicates, version)
        if kept:
            df = self._read_paths(kept)
        else:  # everything pruned: empty frame with the table's schema
            df = self._read_paths(m["data"]).where(F.lit(False))
        for p in predicates:
            df = df.where(self._pred_expr(p[0], p[1], p[2] if len(p) == 3 else None))
        return df

    def read_key(self, value, version: int | None = None) -> DataFrame | None:
        """Point lookup ``key = value`` reading exactly ONE bucket —
        the manifest's key→bucket map answers which file can hold the
        key, so a single-row probe against a 100 TB table scans one
        bucket's worth of data (plus one 1-row local job to evaluate
        ``pmod(xxhash64(value), n_buckets)`` with the key column's real
        Spark type — hash values are type-sensitive, so the literal
        must be cast before hashing, never guessed driver-side).
        Falls back to a filtered full scan for unbucketed layouts."""
        m = self._manifest_for(version)
        if not m["data"]:
            return None
        n_b = m["n_buckets"]
        if n_b is None or not m["buckets"]:
            return self.read(version).where(F.col(self.key) == F.lit(value))
        dtype = self._read_paths([m["data"][0]]).schema[self.key].dataType
        lit = F.lit(value).cast(dtype)
        b = (
            self.spark.range(1)
            .select(F.pmod(F.xxhash64(lit), F.lit(n_b)).cast("int").alias("b"))
            .collect()[0]["b"]
        )
        rel = m["buckets"].get(str(b))
        if rel is None:  # that bucket holds no rows: provably absent
            return self._read_paths(m["data"]).where(F.lit(False))
        return self._read_paths([rel]).where(F.col(self.key) == lit)

    def read_keys(self, keys: DataFrame, version: int | None = None) -> DataFrame | None:
        """Multi-key lookup: every row whose key appears in ``keys`` (a
        frame carrying the table's key column), reading ONLY the
        buckets those keys hash to — the batch form of
        :meth:`read_key`, and the read-side mirror of the write side's
        copy-on-write pruning: a diff-sized probe against a 100 TB
        table scans O(touched buckets), never the table. The key set
        is broadcast for the final semi-join (callers pass diff-sized
        frames). The bucket census is the same one column-pruned
        distinct-collect ``upsert`` performs (≤ n_buckets ints).
        Unbucketed layouts fall back to a filtered full scan. NULL
        keys never match (semi-join semantics). Returns None for an
        empty table."""
        m = self._manifest_for(version)
        if not m["data"]:
            return None
        # NULL keys never match — and must not reach the bucket census:
        # xxhash64(NULL) returns the seed, which would probe a spurious
        # bucket instead of no bucket
        k = keys.select(self.key).where(F.col(self.key).isNotNull()).distinct()
        n_b = m["n_buckets"]
        if n_b is None or not m["buckets"]:
            return self._read_paths(m["data"]).join(
                F.broadcast(k), self.key, "left_semi"
            )
        # hash the probe keys with the TABLE's key type (hash values
        # are type-sensitive, same rule as read_key)
        dtype = self._read_paths([m["data"][0]]).schema[self.key].dataType
        bexpr = F.pmod(
            F.xxhash64(F.col(self.key).cast(dtype)), F.lit(n_b)
        ).cast("int")
        affected = sorted(
            r[0] for r in k.select(bexpr.alias("__b")).distinct().collect()
        )
        paths = [m["buckets"][str(b)] for b in affected if str(b) in m["buckets"]]
        if not paths:  # every probed bucket is empty: provably absent
            return self._read_paths(m["data"]).where(F.lit(False))
        return self._read_paths(paths).join(F.broadcast(k), self.key, "left_semi")

    def _try_claim(self, version: int) -> bool:
        """O_EXCL commit marker for the transition into ``version`` —
        at most one writer per slot. Stale markers (winner crashed
        between claim and pointer flip) are taken over after
        ``stale_marker_sec``."""
        import time

        marker = os.path.join(self.path, f"_COMMIT.v{version:09d}")
        try:
            fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, str(time.time()).encode())
            os.close(fd)
            return True
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(marker)
                cur_v, _ = self._current()
                if age > self.stale_marker_sec and cur_v < version:
                    os.remove(marker)  # crashed winner: free the slot
            except OSError:
                pass
            return False

    def upsert(
        self,
        updates: DataFrame,
        update_cols: list[str] | None = None,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> bool:
        """Merge ``updates`` in with ON-CONFLICT semantics. Retries the
        read-merge-commit cycle on writer conflicts until this writer's
        updates land on top of the then-current snapshot.

        With (``txn_app``, ``txn_version``) the commit is idempotent
        per app: a version at or below the snapshot's recorded
        high-water mark for that app is a replay (e.g. a retried
        ``foreachBatch`` micro-batch) and is skipped — checked against
        the THEN-CURRENT snapshot inside the OCC loop, so the check
        holds even when this writer loses races. Returns True if a
        commit happened, False if skipped as a replay.
        """

        def snapshot(m: dict, n_b: int | None, dname: str):
            if n_b is None:
                existing = self._read_paths(m["data"])
                merged = merge_into(existing, updates, self.key, update_cols)
                merged.write.mode("overwrite").parquet(
                    os.path.join(self.path, dname)
                )
                return [dname], {}, True
            bexpr = F.pmod(F.xxhash64(self.key), F.lit(n_b)).cast("int")
            # one column-pruned distinct over the key: ≤ n_b ints
            affected = sorted(
                r[0]
                for r in updates.select(bexpr.alias("__b")).distinct().collect()
            )
            old_buckets = dict(m["buckets"])
            # copy-on-write: scan ONLY the buckets that hold updated
            # keys; everything else is carried forward by reference
            existing = self._read_paths(
                [old_buckets[str(b)] for b in affected if str(b) in old_buckets]
            )
            merged = merge_into(existing, updates, self.key, update_cols)
            (
                merged.withColumn("__bucket", bexpr)
                .write.mode("overwrite")
                .partitionBy("__bucket")
                .parquet(os.path.join(self.path, dname))
            )
            new_buckets = dict(old_buckets)
            for b in affected:
                new_buckets[str(b)] = f"{dname}/__bucket={b}"
            return (
                [new_buckets[k] for k in sorted(new_buckets, key=int)],
                new_buckets,
                True,
            )

        return self._commit_loop(snapshot, txn_app, txn_version)

    def delete(
        self,
        keys: DataFrame,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> bool:
        """Delete every row whose key appears in ``keys`` (a frame
        carrying the table's key column) — the GDPR right-to-be-
        forgotten write, the canonical copy-on-write workload: in
        bucketed mode only the buckets containing the keys are scanned
        and rewritten (anti-join), everything else is carried forward
        by reference, and a bucket emptied by the delete drops out of
        the manifest. Same OCC retry and txn-replay contract as
        :meth:`upsert`; deleting absent keys still commits a version
        (the txn high-water mark must advance for exactly-once
        streaming deletes). NULL keys are never matched (SQL anti-join
        semantics). Returns True unless skipped as a txn replay."""

        def snapshot(m: dict, n_b: int | None, dname: str):
            k = keys.select(self.key).distinct()
            if n_b is None:
                existing = self._read_paths(m["data"])
                if existing is None:
                    return list(m["data"]), dict(m["buckets"]), False
                remaining = existing.join(k, self.key, "left_anti")
                remaining.write.mode("overwrite").parquet(
                    os.path.join(self.path, dname)
                )
                return [dname], {}, True
            bexpr = F.pmod(F.xxhash64(self.key), F.lit(n_b)).cast("int")
            old_buckets = dict(m["buckets"])
            affected = sorted(
                b
                for (b,) in k.select(bexpr.alias("__b")).distinct().collect()
                if str(b) in old_buckets  # data-less buckets: no-op
            )
            if not affected:
                return list(m["data"]), old_buckets, False
            existing = self._read_paths([old_buckets[str(b)] for b in affected])
            remaining = existing.join(k, self.key, "left_anti")
            (
                remaining.withColumn("__bucket", bexpr)
                .write.mode("overwrite")
                .partitionBy("__bucket")
                .parquet(os.path.join(self.path, dname))
            )
            # a fully-emptied bucket writes no partition dir: drop it
            present = {
                int(e.split("=", 1)[1])
                for e in os.listdir(os.path.join(self.path, dname))
                if e.startswith("__bucket=")
            }
            new_buckets = {
                b: rel for b, rel in old_buckets.items() if int(b) not in affected
            }
            for b in affected:
                if b in present:
                    new_buckets[str(b)] = f"{dname}/__bucket={b}"
            return (
                [new_buckets[x] for x in sorted(new_buckets, key=int)],
                new_buckets,
                True,
            )

        return self._commit_loop(snapshot, txn_app, txn_version)

    def rebucket(self, n_buckets: int | None) -> bool:
        """Rewrite the table into a different bucket count (or back to
        the plain single-dir layout with ``None``) — the maintenance
        operation that CAN change the key→bucket map, because it
        rewrites every row under the new hash in one job (Delta/Iceberg
        repartition-rewrite). Ordinary upserts stay pinned to the
        manifest's count; concurrent writers serialize through the same
        OCC loop, so an upsert racing a rebucket lands before or after
        it, never across the layout change."""

        def snapshot(m: dict, _old_n_b, dname: str):
            existing = self._read_paths(m["data"])
            if existing is None:
                return [], {}, False  # empty table: layout flip only
            if n_buckets is None:
                existing.write.mode("overwrite").parquet(
                    os.path.join(self.path, dname)
                )
                return [dname], {}, True
            bexpr = F.pmod(F.xxhash64(self.key), F.lit(n_buckets)).cast("int")
            (
                existing.withColumn("__bucket", bexpr)
                .write.mode("overwrite")
                .partitionBy("__bucket")
                .parquet(os.path.join(self.path, dname))
            )
            buckets = {
                e.split("=", 1)[1]: f"{dname}/{e}"
                for e in os.listdir(os.path.join(self.path, dname))
                if e.startswith("__bucket=")
            }
            return (
                [buckets[k] for k in sorted(buckets, key=int)],
                buckets,
                True,
            )

        return self._commit_loop(snapshot, None, None, n_b_override=n_buckets)

    def optimize(self, cluster_cols: list, n_files: int = 32) -> bool:
        """Range-clustered maintenance rewrite — the Delta ``OPTIMIZE
        ... ZORDER BY`` analog for the plain layout: rewrite the
        current snapshot ``repartitionByRange`` + sorted on
        ``cluster_cols`` into up to ``n_files`` sub-directories, one
        per contiguous cluster-key range. Each sub-dir gets its own
        manifest stats entry (see ``_manifest_stats``), and because the
        ranges are disjoint, ``read_pruned`` on a cluster-column
        predicate then reads only the few files whose range overlaps —
        the scan goes from O(table) to O(selectivity). Multi-dimension
        clustering: pass a computed interleave key (e.g.
        ``sources.layout.morton_key(x, y)``) plus the raw columns; the
        z-order sort tightens BOTH raw columns' per-file ranges, so
        either prunes.

        Plain layout only: a hash-bucketed table's files are pinned to
        the key→bucket map (its pruning story is ``read_key``'s O(1)
        bucket lookup); ``rebucket(None)`` first to convert. Like
        Delta's OPTIMIZE, the clustering is maintenance state, not an
        invariant — the next upsert writes its snapshot unclustered
        and a periodic re-optimize restores it. Serializes through the
        same OCC loop as every writer: racing upserts land before or
        after the rewrite, never across it.

        Scale: one range-shuffle job over the table (the rewrite IS the
        cost — schedule it like any compaction); ``n_files`` sizes the
        range partitions, so pick table_bytes / target_file_bytes.
        """
        cols = [F.col(c) if isinstance(c, str) else c for c in cluster_cols]
        if not cols:
            raise ValueError("optimize() needs at least one cluster column")

        def snapshot(m: dict, n_b, dname: str):
            if n_b is not None:
                raise ValueError(
                    "optimize() requires the plain layout; this table is "
                    f"hash-bucketed (n_buckets={n_b}) — rebucket(None) first"
                )
            existing = self._read_paths(m["data"])
            if existing is None:
                return [], {}, False  # empty table: nothing to cluster
            (
                existing.repartitionByRange(n_files, *cols)
                .sortWithinPartitions(*cols)
                .withColumn("__cluster", F.spark_partition_id())
                .write.mode("overwrite")
                .partitionBy("__cluster")
                .parquet(os.path.join(self.path, dname))
            )
            clusters = {
                e.split("=", 1)[1]: f"{dname}/{e}"
                for e in os.listdir(os.path.join(self.path, dname))
                if e.startswith("__cluster=")
            }
            return [clusters[k] for k in sorted(clusters, key=int)], {}, True

        return self._commit_loop(snapshot, None, None)

    def stats_summary(
        self, cols: list[str] | None = None, version: int | None = None
    ) -> dict | None:
        """Metadata-only table statistics — the Delta "answer count(*)
        from the log" analog: exact row count and per-column (min, max,
        nulls) folded from the manifest's per-file stats entries,
        touching ZERO data files (a driver-side dict fold over the JSON
        manifest). Returns ``{"rows": N, "cols": {c: {min, max,
        nulls}}}``, or None when any data rel lacks a stats entry or a
        requested column is missing from one (a pre-stats snapshot, a
        JSON-unrepresentable min/max, or a column added mid-history) —
        the caller falls back to a real scan; metadata can decline,
        never lie. At 100 TB this is the difference between a catalog
        lookup and a cluster job for every "how big is it" question."""
        m = self._manifest_for(version)
        stats = m.get("stats", {})
        if not m["data"]:
            return {"rows": 0, "cols": {}}
        if any(r not in stats for r in m["data"]):
            return None
        want = cols if cols is not None else self.stats_cols
        ents = [stats[r] for r in m["data"]]
        first_col = next(iter(ents[0]), None)
        if first_col is None:
            return None
        out_cols: dict = {}
        for c in want:
            if any(
                c not in e or e[c]["min"] is None or e[c]["max"] is None
                for e in ents
            ):
                return None
            out_cols[c] = {
                "min": min(e[c]["min"] for e in ents),
                "max": max(e[c]["max"] for e in ents),
                "nulls": sum(e[c]["nulls"] for e in ents),
            }
        rows = sum(e[first_col]["rows"] for e in ents)
        return {"rows": rows, "cols": out_cols}

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        compare_cols: list[str] | None = None,
    ) -> DataFrame:
        """Delta CHANGE-DATA-FEED analog between two retained versions:
        every key classified as insert / delete / update / unchanged,
        with old_/new_ values for ``compare_cols`` (default: every
        non-key column of the newer snapshot). ``to_version=None`` =
        current. Built on time travel + :func:`snapshot_diff` — one
        full-outer join on the key, both sides manifest-resolved scans;
        with the bucketed layout both snapshots share the key→bucket
        map, so the join is co-located. Raises (via ``read``) when
        either version was vacuumed — the CDF window is exactly the
        retention window, like Delta's."""
        old = self.read(version=from_version)
        new = self.read(version=to_version)
        if old is None or new is None:
            raise ValueError("changes(): both versions must be non-empty snapshots")
        cols = compare_cols or [c for c in new.columns if c != self.key]
        return snapshot_diff(old, new, self.key, cols)

    _KEEP_N_BUCKETS = object()  # sentinel: no override

    def _commit_loop(
        self, snapshot, txn_app, txn_version, n_b_override=_KEEP_N_BUCKETS
    ) -> bool:
        """Shared OCC read-compute-commit cycle. ``snapshot(manifest,
        n_buckets, dname) -> (data, buckets, wrote)`` produces the new
        snapshot contents on top of the then-current state; it is
        re-invoked from scratch whenever this writer loses a race."""
        import json as _json
        import time

        if (txn_app is None) != (txn_version is None):
            raise ValueError("txn_app and txn_version go together")
        while True:
            base_version, base_ref = self._current()
            m = self._read_manifest(base_ref)
            txn = dict(m["txn"])
            if txn_app is not None:
                if txn.get(txn_app, -1) >= txn_version:
                    return False  # replayed batch: already committed
                txn[txn_app] = txn_version
            # the manifest's bucket count is authoritative once the
            # table exists — the key→bucket map must never shift
            # (except through rebucket's full rewrite, which overrides)
            if n_b_override is not ParquetMergeTable._KEEP_N_BUCKETS:
                n_b = n_b_override
            else:
                n_b = m["n_buckets"] if base_ref is not None else self.n_buckets
            new_version = base_version + 1
            dname = f"d_{uuid.uuid4().hex[:12]}"
            new_data, new_buckets, wrote = snapshot(m, n_b, dname)
            new_stats = self._manifest_stats(m, new_data, dname, wrote)
            mname = f"m_{new_version:09d}_{uuid.uuid4().hex[:12]}.json"
            with open(os.path.join(self.path, mname), "w") as f:
                _json.dump(
                    {
                        "version": new_version,
                        "n_buckets": n_b,
                        "data": new_data,
                        "buckets": new_buckets,
                        "txn": txn,
                        "stats": new_stats,
                    },
                    f,
                )
            if not self._try_claim(new_version):
                # another writer won this transition: discard our
                # candidate, wait for their flip, re-compute on top
                if wrote:
                    shutil.rmtree(
                        os.path.join(self.path, dname), ignore_errors=True
                    )
                try:
                    os.remove(os.path.join(self.path, mname))
                except OSError:
                    pass
                deadline = time.time() + self.stale_marker_sec + 5.0
                while self._current()[0] < new_version and time.time() < deadline:
                    time.sleep(0.05)
                continue
            # we own the n→n+1 transition; pointer is still at n
            tmp = self._pointer + f".tmp{os.getpid()}"
            with open(tmp, "w") as f:
                f.write(mname)
            os.replace(tmp, self._pointer)  # atomic flip
            with open(self._log, "a") as f:
                f.write(f"{new_version} {mname}\n")  # O_APPEND atomic line
            self.vacuum()
            return True

    def vacuum(
        self,
        retain_versions: int | None = None,
        grace_sec: float | None = None,
    ) -> list[int]:
        """Retire snapshot versions older than the newest
        ``retain_versions`` AND older than ``grace_sec`` on disk (both
        conditions — the grace age is what guarantees no running scan,
        reader or losing writer, has its files deleted underneath it),
        then garbage-collect data directories no retained manifest
        references. Unreferenced data additionally waits out
        ``max(grace, stale_marker_sec)`` so an in-flight writer's
        half-written candidate is never swept. In bucketed mode a data
        leaf shared by several retained versions survives until the
        LAST manifest referencing it is retired — exactly Delta's
        file-retention rule. Returns the vacuumed versions."""
        import time

        retain = self.retain_versions if retain_versions is None else max(
            1, retain_versions
        )
        grace = self.vacuum_grace_sec if grace_sec is None else grace_sec
        cur_v, cur_ref = self._current()
        now = time.time()
        removed: list[int] = []
        # pass 1: retire manifests
        for v, name in self._logged().items():
            p = os.path.join(self.path, name)
            if p == cur_ref or v > cur_v - retain:
                continue
            try:
                if now - os.path.getmtime(p) <= grace:
                    continue
            except OSError:
                continue
            try:
                os.remove(p)
            except OSError:
                continue
            removed.append(v)
            marker = os.path.join(self.path, f"_COMMIT.v{v:09d}")
            if os.path.exists(marker):
                os.remove(marker)
        # pass 2: GC data unreferenced by any surviving manifest. The
        # age gate covers crashed losers' abandoned candidates too
        # (their manifests were never logged, their data never
        # referenced).
        live_refs = set(self._logged().values())
        live_data: set[str] = set()
        for name in live_refs:
            live_data.update(
                self._read_manifest(os.path.join(self.path, name))["data"]
            )
        min_age = max(grace, self.stale_marker_sec)
        for name in os.listdir(self.path):
            p = os.path.join(self.path, name)
            if (
                name.startswith("m_")
                and name.endswith(".json")
                and name not in live_refs
                and p != cur_ref
            ):
                try:
                    if now - os.path.getmtime(p) > min_age:
                        os.remove(p)  # abandoned candidate manifest
                except OSError:
                    pass
                continue
            if not (name.startswith("d_") and os.path.isdir(p)):
                continue
            if name in live_data:
                continue  # whole-dir snapshot still referenced
            leaves = [e for e in os.listdir(p) if e.startswith("__bucket=")]
            if not leaves:
                try:
                    if now - os.path.getmtime(p) > min_age:
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass
                continue
            for leaf in leaves:
                if f"{name}/{leaf}" in live_data:
                    continue
                lp = os.path.join(p, leaf)
                try:
                    if now - os.path.getmtime(lp) > min_age:
                        shutil.rmtree(lp, ignore_errors=True)
                except OSError:
                    pass
            if not any(e.startswith("__bucket=") for e in os.listdir(p)):
                shutil.rmtree(p, ignore_errors=True)  # only _SUCCESS left
        return sorted(removed)

    def streaming_sink(self, app_id: str, update_cols: list[str] | None = None):
        """``foreachBatch`` target with exactly-once upsert semantics:
        ``df.writeStream.foreachBatch(table.streaming_sink("my-app"))``.
        The micro-batch id becomes the txn version, so a batch replayed
        after a sink-side failure (Structured Streaming's at-least-once
        contract for foreachBatch) is detected and skipped."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.upsert(
                batch_df,
                update_cols=update_cols,
                txn_app=app_id,
                txn_version=int(batch_id),
            )

        return _sink

    def streaming_delete_sink(self, app_id: str):
        """``foreachBatch`` target applying each micro-batch as KEY
        DELETES (a CDC delete feed / GDPR stream) with the same
        exactly-once replay guard as :meth:`streaming_sink` — replayed
        batch ids are skipped against the snapshot's per-app high-water
        mark. Use a distinct ``app_id`` from any upsert sink on the
        same table: the mark is per-app, and one app must apply its
        batches in order."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.delete(batch_df, txn_app=app_id, txn_version=int(batch_id))

        return _sink


def cascade_delete(
    parent: ParquetMergeTable,
    keys: DataFrame,
    children: list[ParquetMergeTable],
    txn_app: str | None = None,
    txn_version: int | None = None,
) -> bool:
    """ON DELETE CASCADE composed over parquet merge tables — the
    reference's ``ways_metadata`` FK
    (`/root/reference/sql/ways_metadata.ddl:6`:
    ``gid REFERENCES ways (gid) ON DELETE CASCADE``): delete ``keys``
    from ``parent`` AND from every FK child table holding rows keyed by
    the same ids (each child's own key column name — ``gid`` in the
    reference — is aliased from the parent's). Each delete is the
    bucket-pruned copy-on-write path of :meth:`ParquetMergeTable.delete`.

    Children commit FIRST: the FK invariant "no child row references an
    absent parent" then holds at EVERY crash point — a crash after a
    child commit merely loses optional child rows of still-present
    parents (re-derivable), whereas parent-first would strand orphan
    child rows until a replay. With (``txn_app``, ``txn_version``) each
    table's own high-water mark makes a replayed composite a per-table
    no-op, so a crash mid-cascade replays to the consistent fixpoint.
    Returns True if any table committed (False = full txn replay)."""
    key_col = parent.key if parent.key in keys.columns else keys.columns[0]
    committed = False
    for child in children:
        committed |= child.delete(
            keys.select(F.col(key_col).alias(child.key)),
            txn_app=txn_app,
            txn_version=txn_version,
        )
    committed |= parent.delete(
        keys.select(F.col(key_col).alias(parent.key)),
        txn_app=txn_app,
        txn_version=txn_version,
    )
    return committed


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """CDC-style snapshot diff: classify every key across two table
    versions as ``insert`` / ``delete`` / ``update`` / ``unchanged``
    (the change feed a downstream incremental consumer replays; the
    reverse direction of the upsert MERGE above).

    One full-outer join on the key — the minimum data movement for a
    diff; comparison is null-safe (``eqNullSafe``) so NULL→value and
    value→NULL edits classify as updates, not unchanged. At scale both
    snapshots bucket by the key and the join is co-located.

    Output: (key, change, <old_/new_ compare cols>).
    """
    o = old.select(F.col(key), *[F.col(c).alias(f"old_{c}") for c in compare_cols])
    n = new.select(F.col(key), *[F.col(c).alias(f"new_{c}") for c in compare_cols])
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    # presence markers: a row exists on a side iff ANY of its selected
    # columns is non-null OR the side matched (full_outer keeps key);
    # use explicit indicator columns to be null-safe even when all
    # compare cols are legitimately NULL.
    o_marked = o.withColumn("__in_old", F.lit(1))
    n_marked = n.withColumn("__in_new", F.lit(1))
    joined = o_marked.join(n_marked, key, "full_outer")
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("update"))
    )
    return joined.select(
        F.col(key),
        change.alias("change"),
        *[F.col(f"old_{c}") for c in compare_cols],
        *[F.col(f"new_{c}") for c in compare_cols],
    )
