"""session.work_dir — the one place the package stages files.

Pins: (1) a keyed directory is built once per key, (2) a build that
raises publishes nothing and the next call builds again, (3)
release_session_state removes unkeyed directories and keeps keyed ones,
(4) a process that made both kinds leaves its temp dir empty at exit,
and (5) staging and merge entries called twice and released leave no
``acs_*`` or ``spark_graft_*`` entry outside the work root.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import uuid

import pytest

from ariadne_cartograph_spark import session
from ariadne_cartograph_spark.session import release_session_state, work_dir

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _writer(calls: list):
    def build(d: str) -> None:
        calls.append(d)
        with open(os.path.join(d, "part"), "w") as f:
            f.write("x")

    return build


def test_keyed_build_runs_once_per_key():
    calls: list = []
    key = ("test", uuid.uuid4().hex)
    a = work_dir(key, _writer(calls))
    assert work_dir(key, _writer(calls)) == a
    assert len(calls) == 1
    assert os.listdir(a) == ["part"]
    b = work_dir((*key, 2), _writer(calls))
    assert b != a and len(calls) == 2


def test_failed_build_publishes_nothing():
    key = ("test", uuid.uuid4().hex)

    def broken(d: str) -> None:
        with open(os.path.join(d, "half"), "w") as f:
            f.write("x")
        raise RuntimeError("build failed")

    before = set(os.listdir(session._root()))
    with pytest.raises(RuntimeError, match="build failed"):
        work_dir(key, broken)
    assert set(os.listdir(session._root())) == before
    calls: list = []
    path = work_dir(key, _writer(calls))
    assert len(calls) == 1 and os.listdir(path) == ["part"]


def test_release_removes_unkeyed_keeps_keyed(spark):
    keyed = work_dir(("test", uuid.uuid4().hex), _writer([]))
    runs = [work_dir(), work_dir()]
    assert runs[0] != runs[1] and all(os.path.isdir(d) for d in runs)
    release_session_state(spark)
    assert not any(os.path.exists(d) for d in runs)
    assert os.listdir(keyed) == ["part"]
    assert os.path.isdir(work_dir())  # a fresh one after release


def test_process_exit_leaves_temp_dir_empty(tmp_path):
    script = (
        "from ariadne_cartograph_spark.session import work_dir\n"
        "def build(d):\n"
        "    open(d + '/f', 'w').write('x')\n"
        "k = work_dir('k', build)\n"
        "u = work_dir()\n"
        "open(u + '/g', 'w').write('y')\n"
        "import os, tempfile\n"
        "assert os.listdir(tempfile.gettempdir())\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": REPO}
    subprocess.run([sys.executable, "-c", script], env=env, check=True)
    assert os.listdir(tmp_path) == []


def _outside_root() -> set[str]:
    root = os.path.basename(session._root())
    return {
        e
        for e in os.listdir(tempfile.gettempdir())
        if e.startswith(("acs_", "spark_graft_")) and e != root
    }


@pytest.mark.parametrize(
    "name",
    ["merge_upsert_bucketed", "events_stream_session_parity", "scan_tag_index_pruned"],
)
def test_entries_write_only_under_the_root(spark, sf_dir, osm_fixture, name):
    from ariadne_cartograph_spark.plans.catalog import REGISTRY, get_queries

    get_queries()
    fn = REGISTRY[name].fn
    before = _outside_root()
    for _ in range(2):
        assert fn(spark, sf_dir).collect()
    release_session_state(spark)
    assert _outside_root() == before
    assert not os.path.exists(os.path.join(session._root(), "run"))
