from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"

#: Runtime conf keys that can change query results.
_RESULT_CONF = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.session.timeZone",
    "spark.sql.ansi.enabled",
)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from data_integration_spark.session import get_spark

    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def registry_walk(spark):
    """One ``oracle_harness.walk`` over the whole registry at sf0.001,
    shared by the oracle-parity test and the two registry plan lints:
    each query is built once. It runs in the battery's own session, so it
    first fails, naming the key, if an earlier test left a
    result-changing conf key different from the fresh session's."""
    from data_integration_spark.queries import QUERIES, load_all
    from tests.oracle_harness import duck_connection, walk

    fresh = spark.newSession().conf
    leaked = {
        key: (fresh.get(key), spark.conf.get(key))
        for key in _RESULT_CONF
        if spark.conf.get(key) != fresh.get(key)
    }
    assert not leaked, f"conf (fresh, now) left changed by an earlier test: {leaked}"
    load_all()
    con = duck_connection(SF_SMALL)
    try:
        return walk(spark, SF_SMALL, sorted(QUERIES.items()), con)
    finally:
        con.close()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(group, fn)`` runs ``fn`` under the job group ``group``
    and returns the number of Spark jobs it started."""
    sc = spark.sparkContext

    def count(group: str, fn) -> int:
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
