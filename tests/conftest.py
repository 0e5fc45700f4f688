"""Shared fixtures: one SparkSession per test run, a DuckDB connection
over SF_DIR, and the catalog sweep record. Oracle checks go through
tools/drive_values.oracle_mismatch, the same compare that
`python tools/drive_values.py` runs (column names and types, row count,
order-insensitive values)."""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from gdalos_spark.datamodel import release_query_caches  # noqa: E402
from gdalos_spark.plans.asserts import explain_str  # noqa: E402
from gdalos_spark.session import get_spark  # noqa: E402
from tools.drive_values import duck_views, norm, oracle_mismatch  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavy end-to-end test (facade verb sweeps, trained-model "
        "A/Bs, multi-arm equivalence drives); skipped by default so the "
        "plain `pytest tests/ -x -q` suite stays short — opt in with "
        "SPARK_GRAFT_SLOW_TESTS=1. The catalog-wide "
        "checks are not slow: tests/test_catalog.py builds each key once",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS", "").strip() == "1":
        return
    skip = pytest.mark.skip(reason="slow test: opt in via SPARK_GRAFT_SLOW_TESTS=1")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # Pin the bucketed-stage root to a fresh empty dir so test plans are
    # deterministic (a bench run staging /tmp/gdalos_bucketed for the
    # test SF must not flip the suite's plan shapes mid-round). Bucketed
    # coverage opts in explicitly via test_bucketed.py's monkeypatched
    # roots.
    os.environ["GDALOS_BUCKETED_ROOT"] = str(tmp_path_factory.mktemp("bucketed_off"))
    s = get_spark("gdalos_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ducks():
    return duck_views(SF_DIR)


@pytest.fixture(scope="session")
def record(spark):
    """Memoized `record(key)`: builds `key` once per session through
    queries() at SF_DIR and keeps plain data only (a frame that stands
    on a checkpoint cannot be read once the next query starts): columns,
    schema, the formatted plan taken before execution, the normalized
    rows or the error, and whether the CacheManager and the persistent
    RDDs are empty after release_query_caches(). `record.builds` counts
    the builds per key."""
    qs = entrymod.queries()
    cache = spark._jsparkSession.sharedState().cacheManager()
    release_query_caches()
    spark.catalog.clearCache()
    memo: dict[str, dict] = {}
    builds: Counter = Counter()

    def get(key: str) -> dict:
        if key not in memo:
            builds[key] += 1
            rec = {"columns": None, "schema": None, "plan": None, "rows": None, "error": None}
            try:
                sdf = qs[key](spark, SF_DIR)
                rec.update(columns=sdf.columns, schema=sdf.schema, plan=explain_str(sdf))
                rec["rows"] = [norm(r) for r in sdf.collect()]
            except Exception as e:  # noqa: BLE001 — the record keeps it
                rec["error"] = f"{type(e).__name__}: {e}"
            finally:
                release_query_caches()
            rec["released"] = (
                cache.isEmpty()
                and spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
            )
            memo[key] = rec
        return memo[key]

    get.builds = builds
    return get


def assert_record_matches_oracle(record, ducks, key):
    """The catalog compare for `key` as queries() builds it, read from
    the session record (the key is built at most once per session)."""
    rec = record(key)
    assert rec["error"] is None, f"{key}: {rec['error']}"
    bad = oracle_mismatch(
        rec["columns"], rec["schema"], rec["rows"], ducks, entrymod.oracle_sql()[key]
    )
    assert bad is None, f"{key}: {bad}"


def jobs_run(spark, fn):
    """(fn(), the number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"probe-{os.urandom(8).hex()}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def assert_matches_oracle(spark, ducks, fn, sql, sf_dir=SF_DIR):
    """The catalog compare for a test that brings its own query function,
    data dir or session layout (tests/test_catalog.py covers every key
    as queries() builds it)."""
    sdf = fn(spark, sf_dir)
    bad = oracle_mismatch(sdf.columns, sdf.schema, sdf.collect(), ducks, sql)
    assert bad is None, bad
