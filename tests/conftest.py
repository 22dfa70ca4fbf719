import os

import pytest

SF_DIR = os.environ.get("DBQT_SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")

# Two-tier suite (VERDICT r15 #6: the full suite never fit the driver's
# verify window). The DEFAULT tier is the regression gate: every
# operator/contract keeps coverage, but the multi-run walkthroughs, the
# full 186-query oracle-parity sweep (the driver replays that gate
# itself against DuckDB), and a few many-minute lifecycle monsters move
# to the opt-in SLOW tier. Run everything with:
#
#     DBQT_SPARK_SLOW_TESTS=1 python -m pytest tests/
#
RUN_SLOW = os.environ.get("DBQT_SPARK_SLOW_TESTS") == "1"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavy walkthrough/sweep tests — opt in via "
        "DBQT_SPARK_SLOW_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if RUN_SLOW:
        return
    skip = pytest.mark.skip(
        reason="slow tier (set DBQT_SPARK_SLOW_TESTS=1 to run)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from dbqt_spark.session import get_spark

    s = get_spark(app_name="dbqt_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def no_new_pinned_rdds(spark):
    """Opt-in leak guard: the test fails if it leaves persistent RDDs
    (cached frames or checkpoints) behind that were not there before.

    Yields ``new_pinned()`` — how many of the persistent RDDs present
    now are new — for mid-test checks such as "an over-limit result
    holds exactly one". RDD ids, not just the count, are compared, so
    an unrelated earlier leak being collected meanwhile cannot mask a
    new one. A test whose path keeps iterative lineage cuts
    (``localCheckpoint`` rounds) pinned sets
    ``new_pinned.ignore_checkpoints = True`` to guard its cached frames
    only."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())

    def new_pinned() -> int:
        rdds = jsc.getPersistentRDDs()
        return sum(
            1
            for i in rdds.keySet()
            if i not in before
            and not (
                new_pinned.ignore_checkpoints
                and rdds.get(i).isCheckpointed()
            )
        )

    new_pinned.ignore_checkpoints = False
    yield new_pinned
    assert new_pinned() == 0, "the test left persistent RDDs pinned"
