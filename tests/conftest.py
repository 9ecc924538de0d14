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
