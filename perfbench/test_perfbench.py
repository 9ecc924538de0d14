"""Tests of the benchmark itself. From the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

Two small end-to-end runs (about a minute each) and one digest check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(*args: str) -> dict:
    """Run the benchmark from the repository root at the smallest sizes."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--scale", "0.001", "--grid", "4",
         "--seconds", "0", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert not _left_running(), "the run left processes behind"
    return json.loads(out.stdout.strip().splitlines()[-1])


def _left_running() -> list[int]:
    """Processes started by a run (the JVM and Python workers inherit its
    work directory in their environment) that are still in the table."""
    mark = os.path.join(ROOT, ".perfbench_work").encode()
    left = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if mark in f.read():
                    left.append(int(pid))
        except OSError:
            continue
    return left


def _assert_metrics(result: dict, specs: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    got = result["metrics"]
    assert set(got) == {m["name"] for m in specs}
    for m in specs:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]


def test_end_to_end_metrics_at_tiny_scale():
    res = _run("--workload", "llm_curation", "--seed", "3", "--trace", "0")
    _assert_metrics(res, SPEC["end_to_end"])
    from workloads import LLM_CURATION

    assert res["correct"] and res["failed"] == 0 and res["attempted"] == 2 * len(LLM_CURATION)
    assert all(res["metrics"][m]["value"] > 0 for m in res["metrics"])


def test_traced_run_with_injected_failure():
    res = _run("--workload", "gis_pipeline", "--seed", "3", "--trace", "1",
               "--inject-failure", "load_ways")
    _assert_metrics(res, SPEC["per_layer"])
    m = res["metrics"]
    # the failing step fails in every pass; every other step still ran
    assert not res["correct"] and res["failed"] >= 3
    assert m["fail_frac"]["value"] == pytest.approx(res["failed"] / res["attempted"])
    assert m["sources.osm.elements"]["value"] > 0
    assert m["operators.merge.upsert_s"]["value"] > 0
    assert m["operators.merge.write_amp"]["value"] > 1


def test_digest_sees_one_map_value():
    from ariadne_cartograph_spark.session import get_spark
    from digest import take_digest

    spark = get_spark("perfbench-test", cpus=2)
    rows = [(1, {"highway": "residential", "name": "a"}, [{"k": "v"}]),
            (2, {"building": "yes"}, [])]
    schema = "id long, tags map<string,string>, nested array<map<string,string>>"
    base = take_digest(spark.createDataFrame(rows, schema))[0]
    rows[0][1]["name"] = "b"
    changed = take_digest(spark.createDataFrame(rows, schema))[0]
    rows[0][1]["name"] = "a"
    rows[0][2][0]["k"] = "w"
    nested = take_digest(spark.createDataFrame(rows, schema))[0]
    again = take_digest(spark.createDataFrame([rows[1], rows[0]], schema))[0]
    assert base[2] == changed[2] == 2
    assert base != changed and base != nested
    assert nested == again  # row order does not matter
