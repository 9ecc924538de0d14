from __future__ import annotations

import contextlib
import os
import sys
import uuid
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ariadne_cartograph_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s


def street_grid_rows(n: int = 12, step: float = 0.006) -> list[tuple]:
    """A deterministic ``ways(gid, geom)`` street grid: ``n``×``n``
    intersections ``step`` degrees apart, one 3-vertex way per block
    edge (2·n·(n−1) ways) whose midpoint is nudged off the straight
    line by a gid-dependent amount. Adjacent ways share their end
    vertices, so coordinates repeat across ways. The grid touches 4
    zoom-12 tiles and 56 zoom-15 tiles."""
    lng0, lat0 = -118.16, 34.11
    rows = []
    for (di, dj) in ((1, 0), (0, 1)):
        for i in range(n - di):
            for j in range(n - dj):
                gid = len(rows) + 1
                a = (lng0 + i * step, lat0 + j * step)
                b = (lng0 + (i + di) * step, lat0 + (j + dj) * step)
                nudge = ((gid * 7) % 5 - 2) * step / 20
                mid = ((a[0] + b[0]) / 2 + nudge * dj, (a[1] + b[1]) / 2 + nudge * di)
                rows.append((gid, [a, mid, b]))
    return rows


@pytest.fixture(scope="session")
def street_grid(spark, tmp_path_factory):
    """The street grid written as a parquet ``ways`` table (readable
    by ``update_ways_metadata.load_ways``): ``.path``, ``.n_ways``."""
    rows = street_grid_rows()
    path = str(tmp_path_factory.mktemp("street_grid") / "ways.parquet")
    spark.createDataFrame(
        rows, "gid long, geom array<struct<lng:double,lat:double>>"
    ).coalesce(1).write.parquet(path)
    return SimpleNamespace(path=path, n_ways=len(rows))


@pytest.fixture(scope="session")
def osm_fixture():
    """Path of the repository's seeded OSM XML fixture
    (sources/osm_fixture.py), written once per digest."""
    from ariadne_cartograph_spark.sources.osm_fixture import ensure_osm_fixture

    return ensure_osm_fixture()


@pytest.fixture(scope="session")
def osm_doc(osm_fixture):
    """The fixture parsed by the plain-Python census (tests/osm_census.py)."""
    from tests.osm_census import parse

    return parse(osm_fixture)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECT


@pytest.fixture(scope="session")
def spark_session_for_hypothesis():
    # hypothesis forbids function-scoped fixtures inside @given; alias
    # the session-scoped spark fixture under a distinct name
    return get_spark("tests", cpus=8, shuffle_partitions=8)


@pytest.fixture()
def spark_jobs(spark):
    """Count the Spark jobs a block launches from the calling thread:

        with spark_jobs() as probe:
            ...
        probe.jobs     # ids of every job launched inside the block
        probe.actions  # the actions (SQL executions) behind them

    Under AQE one DataFrame action runs as several jobs (each shuffle
    map stage and each broadcast is its own job). Every one of them
    carries its action's ``execution-root-id`` job tag, so ``actions``
    counts distinct tags; a job without one (a plain RDD action) counts
    as its own action."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    @contextlib.contextmanager
    def count():
        out = SimpleNamespace(jobs=[], actions=0)
        group = f"spark-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job-count probe")
        try:
            yield out
        finally:
            sc._jsc.clearJobGroup()
        jsc.listenerBus().waitUntilEmpty()
        out.jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
        roots = set()
        for job_id in out.jobs:
            tags = jsc.statusStore().job(job_id).jobTags()
            root = [t for t in (tags.apply(i) for i in range(tags.size()))
                    if "-execution-root-id-" in t]
            roots.add(root[0] if root else job_id)
        out.actions = len(roots)

    return count
