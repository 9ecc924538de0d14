"""Closed-loop benchmark of ariadne-cartograph-spark.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One process starts a ``local[nproc]``
session, generates the inputs from ``--seed`` (relational tables for
``llm_curation``, an OSM XML street grid for ``gis_pipeline``), runs one
untimed pass that checks every step's result, then timed passes: at least
one, and more while ``--seconds`` have not gone by. Each step starts
after the previous one finished. A step is timed from plan construction
to the end of a digest action that Catalyst cannot prune (see
``digest.py``); between passes the program's caches and memos are
released so every pass pays for its probes.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The full record (per-step
times, quartiles, host load and steal) goes to stderr as one line
starting with ``# record``. Everything written goes under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

import gen_osm
import gen_tables
import layers
from digest import take_digest
from workloads import WORKLOADS, Ctx, drop_tables

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")

# Input sizes: the relational tables at this fraction of sf1 (250
# documents, 200 embeddings), and the side of the OSM street grid. A pass
# is mostly fixed per-query overhead at these sizes; they keep a run with
# its checks near a minute on 4 cores (the near-dup oracles are quadratic
# in documents).
SCALE = 0.005
GRID = 40
# Module-level ``*_CACHE`` memo dicts that ``_release`` keeps: the
# streaming stage cache holds staged input, not a probe result.
_KEEP_MEMOS = {"_STAGE_CACHE"}


def _env() -> None:
    """Keep every file under WORK and let Python workers import the package."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={WORK}/spark-local",
        f"--conf spark.sql.warehouse.dir={WORK}/warehouse",
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])
    sys.path[:0] = [ROOT]


def _release(spark) -> None:
    from ariadne_cartograph_spark.operators.dedup import release_caches
    from ariadne_cartograph_spark.session import release_session_state

    release_caches()
    release_session_state(spark)
    for name, mod in list(sys.modules.items()):
        if name.startswith("ariadne_cartograph_spark."):
            for attr, val in list(vars(mod).items()):
                if attr.endswith("_CACHE") and isinstance(val, dict) and attr not in _KEEP_MEMOS:
                    val.clear()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


class Runner:
    def __init__(self, spark, steps, ctx, trace: bool):
        self.spark, self.steps, self.ctx = spark, steps, ctx
        self.ref: dict[str, object] = {}
        self.attempted = self.failed = 0
        self.errors: dict[str, str] = {}
        if trace:
            from ariadne_cartograph_spark.operators.merge import ParquetMergeTable

            self.probe = layers.SparkProbe(spark)
            self.timers = layers.CallTimers(self.probe)
            self.timers.function("ariadne_cartograph_spark.sources.tables", "load_table",
                                 "sources.tables.load", jobs=True)
            self.timers.method(ParquetMergeTable, "upsert", "operators.merge.upsert")
            self.streams = layers.StreamRecorder()

    def _fail(self, step: str, msg: str) -> None:
        self.failed += 1
        self.errors.setdefault(step, msg[:400])
        print(f"# FAIL {step}: {msg[:400]}", file=sys.stderr)

    def _exec(self, step, built):
        """Consume a built step; returns (result, executed digest frame)."""
        if step.call:
            return built(), None
        return take_digest(built)

    def check_pass(self) -> dict[str, tuple[float, float]]:
        """Untimed warm-up pass: run and check every step; returns
        {step: (step seconds, check seconds)}."""
        times = {}
        for step in self.steps:
            self.attempted += 1
            t0 = t1 = time.perf_counter()
            try:
                built = step.build()
                result, _ = self._exec(step, built)
                t1 = time.perf_counter()
                self.ref[step.name] = result
                err = step.check(built, result) or (step.verify and step.verify(result))
            except Exception as exc:  # a failing step never aborts the run
                err = f"{type(exc).__name__}: {exc}"
            if err:
                self._fail(step.name, err)
            times[step.name] = (t1 - t0, time.perf_counter() - t1)
        return times

    def timed_pass(self, traced: bool) -> dict:
        rec = {"steps": {}, "layers": {}}
        lay = rec["layers"]
        if traced:
            self.timers.active = True
            self.spark.streams.addListener(self.streams)
        cpu0 = layers.tree_cpu_s()
        for step in self.steps:
            self.attempted += 1
            try:
                if traced:
                    j0, s0 = self.probe.ids()
                t0 = time.perf_counter()
                built = step.build()
                t1 = time.perf_counter()
                if traced:
                    j1 = self.probe.ids()[0]
                result, dframe = self._exec(step, built)
                t2 = time.perf_counter()
            except Exception as exc:
                self._fail(step.name, f"{type(exc).__name__}: {exc}")
                continue
            rec["steps"][step.name] = t2 - t0
            if step.call:
                err = step.verify(result) if step.verify else None
            elif result != self.ref.get(step.name):
                err = f"digest {result} differs from the checked pass {self.ref.get(step.name)}"
            else:
                err = None
            if err:
                self._fail(step.name, err)
            if traced:
                self._trace_step(step, lay, (j0, s0, j1), (t0, t1, t2), result, dframe)
        rec["cpu_s"] = layers.tree_cpu_s() - cpu0
        rec["wall_s"] = sum(rec["steps"].values())
        if traced:
            self.timers.active = False
            self.probe.drain()
            self.spark.streams.removeListener(self.streams)
            st = self.streams.take()
            lay["streaming.batches"] = st["batches"]
            lay["streaming.batch_ms"] = st["batch_ms"]
            lay["streaming.state_rows"] = st["state_rows"]
            tm = self.timers.take()
            lay["sources.tables.load_s"] = tm.get("sources.tables.load_s", 0.0)
            lay["sources.tables.load_jobs"] = tm.get("sources.tables.load_jobs", 0)
            upsert_s = tm.get("operators.merge.upsert_s", 0.0)
            lay["operators.merge.upsert_s"] = upsert_s
            lay["operators.enrich.s"] = max(0.0, lay.pop("_call_exec_s", 0.0) - upsert_s)
            # a pass starts from an empty table and nothing is vacuumed
            # within it, so the table directory holds every byte written
            written, live = self._table_bytes()
            lay["operators.merge.bytes_written"] = written
            lay["operators.merge.write_amp"] = written / live if live else 0.0
            par = self.spark.sparkContext.defaultParallelism
            run_ms = lay.get("exec.executor_run_ms", 0.0)
            lay["exec.task_wait_ms"] = max(0.0, run_ms - lay.get("exec.executor_cpu_ms", 0.0))
            lay["exec.slot_util"] = run_ms / (1000 * rec["wall_s"] * par) if rec["wall_s"] else 0.0
        return rec

    def _trace_step(self, step, lay, ids, ts, result, dframe) -> None:
        j0, s0, j1 = ids
        t0, t1, t2 = ts
        j2, s2 = self.probe.ids()
        self.probe.drain()

        def add(k, v):
            lay[k] = lay.get(k, 0) + v

        add("plans.build_s", t1 - t0)
        add("plans.build_jobs", j1 - j0)
        add("exec.s", t2 - t1)
        add("exec.jobs", j2 - j1)
        stages = self.probe.stage_totals(s0, s2)
        for k, v in stages.items():
            add(f"exec.{k}", v)
        if dframe is not None:
            for phase, ms in layers.catalyst_ms(dframe).items():
                add(f"catalyst.{phase}_ms", ms)
        if step.name == "osm_ingest":
            add("sources.osm.parse_s", t2 - t0)
            add("sources.osm.parse_tasks", stages["tasks"])
            add("sources.osm.elements", result[2])
        elif step.name == "load_ways":
            add("operators.topology.s", t2 - t0)
        elif step.call:
            add("_call_exec_s", t2 - t1)

    def _table_bytes(self) -> tuple[int, int]:
        """(bytes under the pass's ways_metadata table, bytes of its live snapshot)."""
        from ariadne_cartograph_spark.operators.merge import ParquetMergeTable

        path = self.ctx.state.get("table")
        if not path or not os.path.exists(path):
            return 0, 0
        files = ParquetMergeTable(self.spark, path, key="gid").read().inputFiles()
        live = sum(os.path.getsize(f.removeprefix("file:")) for f in files)
        return sum(layers.dir_files(path).values()), live


def _sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _inputs(osm: bool, seed: int, scale: float, grid: int) -> tuple[str, str, object, list[float]]:
    """Generate the inputs three times (the same seed must give the same
    bytes); returns (input dir, xml path, census, generation seconds)."""
    times, digests = [], set()
    census = None
    for rep in range(3):
        out = os.path.join(WORK, f"inputs_{rep}")
        t0 = time.perf_counter()
        if osm:
            os.makedirs(out, exist_ok=True)
            census = gen_osm.write_osm(os.path.join(out, "grid.osm"), seed, grid)
        else:
            gen_tables.write_tables(out, seed, scale)
        times.append(time.perf_counter() - t0)
        digests.add(tuple(sorted(
            (os.path.basename(p), _sha256(p)) for p in layers.dir_files(out)
        )))
    if len(digests) != 1:
        raise RuntimeError("input generation is not deterministic")
    base = os.path.join(WORK, "inputs_0")
    for rep in (1, 2):
        shutil.rmtree(os.path.join(WORK, f"inputs_{rep}"))
    return base, os.path.join(base, "grid.osm"), census, times


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", default=None, metavar="STEP",
                    help="make STEP raise, to test that one failure cannot stop the run")
    ap.add_argument("--scale", type=float, default=SCALE, help=argparse.SUPPRESS)
    ap.add_argument("--grid", type=int, default=GRID, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    shutil.rmtree(WORK, ignore_errors=True)
    _env()
    try:
        import pyspark  # noqa: F401
        import ariadne_cartograph_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        shutil.rmtree(WORK, ignore_errors=True)
        return 2
    # a SIGTERM unwinds through the ``finally`` below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result, record = _measure(args)
        record["total_s"] = time.perf_counter() - t_start
    finally:
        _shutdown()
        shutil.rmtree(WORK, ignore_errors=True)
    print("# record " + json.dumps(record), file=sys.stderr)
    print(json.dumps(result))
    return 0


def _shutdown() -> None:
    """Stop the session and its gateway JVM, and wait until every process
    the run started (the JVM, the Python worker daemon and its workers)
    has ended."""
    from pyspark import SparkContext

    procs = layers.descendants()
    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        jvm = getattr(gateway, "proc", None)
        if jvm is not None and jvm.stdin is not None:
            with contextlib.suppress(OSError):
                jvm.stdin.close()  # the gateway JVM exits at the end of its stdin
        left = layers.end_processes(procs)
        if left:
            print(f"# processes that would not end: {left}", file=sys.stderr)


def _measure(args) -> tuple[dict, dict]:
    """Set up, run the passes and return (result line, full record)."""
    import pyspark
    from ariadne_cartograph_spark.session import get_spark

    load0, cpu_t0 = os.getloadavg(), layers.cpu_times()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    osm = args.workload == "gis_pipeline"
    data_dir, xml, census, gen_times = _inputs(osm, args.seed, args.scale, args.grid)
    ctx = Ctx(spark, data_dir, WORK, xml_path=xml, census=census)
    if not osm:
        from ariadne_cartograph_spark.plans.oracle_harness import duckdb_connection

        ctx.con = duckdb_connection(data_dir)
    steps = WORKLOADS[args.workload](ctx)
    if args.inject_failure:
        for s in steps:
            if s.name == args.inject_failure:
                s.build = lambda: (_ for _ in ()).throw(RuntimeError("injected step failure"))
    runner = Runner(spark, steps, ctx, bool(args.trace))
    warm = runner.check_pass()
    drop_tables(ctx)
    _release(spark)
    setup_s = session_s + statistics.median(gen_times) + sum(t for t, _ in warm.values())

    # A traced run alternates untraced and traced passes after a first
    # untraced one, which is left out of trace.overhead because the JIT
    # is still settling in it.
    passes = []
    deadline = time.perf_counter() + args.seconds
    while len(passes) < 1 + 2 * args.trace or time.perf_counter() < deadline:
        traced = bool(args.trace) and len(passes) % 2 == 1
        rec = runner.timed_pass(traced)
        rec["traced"] = traced
        passes.append(rec)
        drop_tables(ctx)
        _release(spark)

    plain = [p for p in passes if not p["traced"]]
    walls = [p["wall_s"] for p in plain]
    cpus = [p["cpu_s"] for p in plain]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "pyspark": pyspark.__version__,
        "nproc": os.cpu_count(), "parallelism": spark.sparkContext.defaultParallelism,
        "load_start": load0, "load_end": os.getloadavg(),
        "steal_pct": layers.steal_pct(cpu_t0, layers.cpu_times()),
        "session_s": session_s, "gen_s": gen_times, "warmup_s": warm,
        "passes": len(plain), "wall_s_passes": walls, "wall_s_quartiles": _quartiles(walls),
        "cpu_s_quartiles": _quartiles(cpus),
        "steps_median_s": {
            s.name: statistics.median([p["steps"][s.name] for p in plain if s.name in p["steps"]] or [0])
            for s in steps
        },
        "errors": runner.errors,
    }
    if args.trace:
        metrics = _layer_metrics(passes, runner, ctx)
        metrics["session.jvm_peak_rss_mb"] = (layers.jvm_peak_rss_mb(), "MB")
    else:
        metrics = {
            "wall_s": (statistics.median(walls), "s"),
            "cpu_s": (statistics.median(cpus), "s"),
            "setup_s": (setup_s, "s"),
        }
    if ctx.con is not None:
        ctx.con.close()
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, record


def _layer_metrics(passes, runner, ctx) -> dict[str, tuple[float, str]]:
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes[1:] if not p["traced"]]
    out = {
        k: (statistics.median(p["layers"].get(k, 0) for p in traced), unit)
        for k, unit in layers.LAYER_UNITS.items()
    }
    out["transfer.collect_s"] = (ctx.collect_s, "s")
    out["trace.overhead"] = (
        statistics.median(p["wall_s"] for p in traced)
        / statistics.median(p["wall_s"] for p in plain) - 1, "ratio")
    out["fail_frac"] = (runner.failed / max(1, runner.attempted), "ratio")
    return out


if __name__ == "__main__":
    sys.exit(main())
