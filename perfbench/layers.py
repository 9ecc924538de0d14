"""Per-layer probes, all read from outside the program: the process tree
in ``/proc``, Spark's status store and ``QueryExecution`` tracker through
the JVM gateway, a ``StreamingQueryListener``, and timing wrappers
around public functions of ``sources``, ``operators`` and the merge
table.
"""

from __future__ import annotations

import contextlib
import functools
import os
import signal
import sys
import time
from collections import defaultdict
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")

# Per-layer metrics summed over the steps of a traced pass, with units.
LAYER_UNITS = {
    "plans.build_s": "s", "plans.build_jobs": "count",
    "sources.tables.load_s": "s", "sources.tables.load_jobs": "count",
    "sources.osm.parse_s": "s", "sources.osm.parse_tasks": "count",
    "sources.osm.elements": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_ms": "ms", "exec.executor_cpu_ms": "ms",
    "exec.task_wait_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_fetch_wait_ms": "ms", "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count", "exec.slot_util": "ratio",
    "operators.topology.s": "s", "operators.enrich.s": "s",
    "operators.merge.upsert_s": "s", "operators.merge.bytes_written": "bytes",
    "operators.merge.write_amp": "ratio",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.state_rows": "count",
}


# ---------------------------------------------------------------- host ----

def _proc_stats() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, cpu seconds incl. reaped children, comm)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[1] = ppid; [11..14] = utime stime cutime cstime
        cpu = sum(int(x) for x in fields[11:15]) / _TICK
        out[int(name)] = (int(fields[1]), cpu, comm)
    return out


def _descendants(stats: dict, root: int) -> list[int]:
    kids = defaultdict(list)
    for pid, (ppid, _, _) in stats.items():
        kids[ppid].append(pid)
    todo, seen = [root], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(kids.get(p, []))
    return seen


def tree_cpu_s() -> float:
    """CPU seconds of this process and every descendant: the JVM and the
    Python workers (a worker that already exited is counted through its
    parent's reaped-children time)."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _descendants(stats, os.getpid()) if p in stats)


def _start_time(pid: int) -> str | None:
    """Start time of a process that is in the process table, zombies too."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()[19]


def descendants() -> dict[int, str]:
    """pid -> start time of every process this one started, directly or not."""
    stats = _proc_stats()
    me = os.getpid()
    found = {p: _start_time(p) for p in _descendants(stats, me) if p != me}
    return {p: st for p, st in found.items() if st is not None}


def end_processes(procs: dict[int, str], grace: float = 10.0) -> list[int]:
    """Wait until every process of ``procs`` (from ``descendants``) has left
    the process table; SIGTERM the ones alive after ``grace`` seconds and
    SIGKILL them after twice that. Returns the pids still there at the end."""
    t0 = time.monotonic()
    sent = 0
    while True:
        for p in procs:  # reap the ones that are our own children
            with contextlib.suppress(ChildProcessError, OSError):
                os.waitpid(p, os.WNOHANG)
        alive = [p for p, st in procs.items() if _start_time(p) == st]
        elapsed = time.monotonic() - t0
        if not alive or elapsed > 3 * grace:
            return alive
        if sent < int(elapsed // grace):
            sent += 1
            for p in alive:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGTERM if sent == 1 else signal.SIGKILL)
        time.sleep(0.05)


def jvm_peak_rss_mb() -> float:
    stats = _proc_stats()
    for p in _descendants(stats, os.getpid()):
        if stats.get(p, (0, 0, ""))[2] == "java":
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
    return 0.0


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return 100.0 * d[7] / total if len(d) > 7 else 0.0


# --------------------------------------------------------------- spark ----

class SparkProbe:
    """Job and stage id watermarks and stage totals from the status store."""

    _STAGE_FIELDS = {
        "executor_run_ms": "executorRunTime",
        "executor_cpu_ms": "executorCpuTime",  # ns, converted below
        "gc_ms": "jvmGcTime",
        "shuffle_read_bytes": "shuffleReadBytes",
        "shuffle_write_bytes": "shuffleWriteBytes",
        "shuffle_fetch_wait_ms": "shuffleFetchWaitTime",
        "spill_bytes": "diskBytesSpilled",
        "failed_tasks": "numFailedTasks",
    }

    def __init__(self, spark: SparkSession):
        self.jsc = spark.sparkContext._jsc.sc()

    def ids(self) -> tuple[int, int]:
        dag = self.jsc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    def drain(self) -> None:
        """Wait until every posted event reached the status store."""
        self.jsc.listenerBus().waitUntilEmpty()

    def stage_totals(self, s0: int, s1: int) -> dict[str, float]:
        store = self.jsc.statusStore()
        tot = dict.fromkeys([*self._STAGE_FIELDS, "stages", "tasks"], 0.0)
        for sid in range(s0, s1):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # an id the store never saw or already evicted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numTasks()
            for key, attr in self._STAGE_FIELDS.items():
                tot[key] += getattr(st, attr)()
            tot["spill_bytes"] += st.memoryBytesSpilled()
        tot["executor_cpu_ms"] /= 1e6
        return tot


def catalyst_ms(df: DataFrame) -> dict[str, float]:
    """Analysis, optimization and planning phases of an executed frame."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class StreamRecorder(StreamingQueryListener):
    """Micro-batch count, trigger time and state rows of every stream."""

    def __init__(self):
        self.batches = 0
        self.batch_ms = 0.0
        self.state_rows = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches += 1
        self.batch_ms += float(p.durationMs.get("triggerExecution", 0))
        self.state_rows += sum(op.numRowsTotal for op in p.stateOperators)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> dict[str, float]:
        out = {"batches": self.batches, "batch_ms": self.batch_ms, "state_rows": self.state_rows}
        self.batches, self.batch_ms, self.state_rows = 0, 0.0, 0
        return out


# ------------------------------------------------------------ wrappers ----

class CallTimers:
    """Times calls into public functions while ``active`` is set.

    A module-level function is replaced in every loaded module of the
    package that holds a reference to it, so callers that imported it by
    name are timed too."""

    def __init__(self, probe: SparkProbe):
        self.probe = probe
        self.active = False
        self.totals: dict[str, float] = defaultdict(float)

    def _wrap(self, label: str, fn: Callable, jobs: bool) -> Callable:
        @functools.wraps(fn)
        def timed(*a, **kw):
            if not self.active:
                return fn(*a, **kw)
            j0 = self.probe.ids()[0] if jobs else 0
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.totals[f"{label}_s"] += time.perf_counter() - t0
                if jobs:
                    self.totals[f"{label}_jobs"] += self.probe.ids()[0] - j0

        return timed

    def function(self, module: str, name: str, label: str, jobs: bool = False) -> None:
        orig = getattr(sys.modules[module], name)
        wrapped = self._wrap(label, orig, jobs)
        pkg = module.split(".")[0]
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(pkg) and getattr(mod, name, None) is orig:
                setattr(mod, name, wrapped)

    def method(self, cls: type, name: str, label: str) -> None:
        setattr(cls, name, self._wrap(label, getattr(cls, name), False))

    def take(self) -> dict[str, float]:
        out = dict(self.totals)
        self.totals.clear()
        return out


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with contextlib.suppress(OSError):
                out[p] = os.path.getsize(p)
    return out
