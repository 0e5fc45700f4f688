"""Catalog-wide checks, one sweep: every queries() key is built once per
session (conftest `record`), and each check here reads that record —
its oracle compare, its plan, and its persist boundary."""
from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import types as T

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, assert_record_matches_oracle
from tools.drive_values import oracle_mismatch


@pytest.mark.parametrize("key", list(entrymod.oracle_sql()))
def test_matches_oracle(record, ducks, key):
    assert_record_matches_oracle(record, ducks, key)


def _plan(record, key: str) -> str:
    rec = record(key)
    assert rec["plan"] is not None, f"{key}: {rec['error']}"
    return rec["plan"]


def test_no_cartesian_product_anywhere(record):
    """The global scale invariant: NO operator in the entire catalog may
    plan a CartesianProduct. Every legitimate all-pairs construct in the
    library is a broadcast of a bounded side (1-row aggregates, offset
    stencils, probe sets) which plans as BroadcastNestedLoopJoin — an
    unbounded CartesianProduct anywhere is a 100-TB outage. Streaming
    keys are skipped (their plans materialize through the sink, and
    their batch twins are covered)."""
    skip = {k for k in entrymod.queries() if k.startswith("streaming_")}
    skip |= {"multimodal_decode", "multimodal_frames"}  # pandas stages
    for key in entrymod.queries():
        if key in skip:
            continue
        plan = _plan(record, key)
        assert "CartesianProduct" not in plan, (
            f"unexpected 'CartesianProduct' in {key}'s physical plan:\n{plan}"
        )


def test_no_python_udfs_in_sql_operators(record):
    """Every oracle-checked operator stays JVM-side: no BatchEvalPython
    (row UDF) or ArrowEvalPython stages anywhere."""
    for key in entrymod.oracle_sql():
        if key == "streaming_event_counts":
            continue  # materialized via a streaming query, not a lazy plan
        plan = _plan(record, key)
        for n in ("BatchEvalPython", "ArrowEvalPython"):
            assert n not in plan, f"unexpected {n!r} in {key}'s physical plan:\n{plan}"


def test_query_boundary_releases_every_persist(spark, record):
    """A query's persists and checkpoints live until the next query
    starts: starting a key through queries() frees what the previous one
    persisted, and after release_query_caches() nothing any key
    persisted or checkpointed is cached. The sweep builds each key once."""
    from gdalos_spark.datamodel import query_persist, release_query_caches

    cache = spark._jsparkSession.sharedState().cacheManager()
    release_query_caches()
    spark.catalog.clearCache()
    query_persist(spark.range(3)).count()
    entrymod.queries()["pricing_summary"](spark, SF_DIR)
    assert cache.isEmpty()
    for key in entrymod.queries():
        assert record(key)["released"], key
    assert set(record.builds) == set(entrymod.queries())
    assert set(record.builds.values()) == {1}


def _mismatch(spark, ducks, schema, rows: list, sql: str):
    sdf = spark.createDataFrame(rows, schema)
    return oracle_mismatch(sdf.columns, sdf.schema, sdf.collect(), ducks, sql)


def test_oracle_mismatch_flags_each_difference(spark, ducks):
    hugeint = _mismatch(spark, ducks, "n bigint", [(6,)],
                        "SELECT SUM(x) AS n FROM (VALUES (1::BIGINT), (5::BIGINT)) t(x)")
    assert hugeint is not None and "HUGEINT" in hugeint
    neg_zero = _mismatch(spark, ducks, "x double", [(0.0,)], "SELECT -0.0::DOUBLE AS x")
    assert neg_zero is not None and "value mismatch" in neg_zero
    missing = _mismatch(spark, ducks, "a bigint, b bigint", [(1, 2)], "SELECT 1::BIGINT AS a")
    assert missing is not None and "column set" in missing
    one_row = _mismatch(spark, ducks, "a bigint, s string", [(1, "x"), (2, "y")],
                        "SELECT * FROM (VALUES (1::BIGINT, 'x'), (2::BIGINT, 'z')) t(a, s)")
    assert one_row is not None and "value mismatch" in one_row


def test_oracle_mismatch_accepts_equal_results(spark, ducks):
    assert _mismatch(spark, ducks, "A bigint, s string, x double",
                     [(2, "y", float("nan")), (1, "x", -0.0)],
                     "SELECT * FROM (VALUES (1::BIGINT, 'x', -0.0::DOUBLE), "
                     "(2::BIGINT, 'y', 'nan'::DOUBLE)) t(a, s, x)") is None
    schema = T.StructType([T.StructField("v", T.ArrayType(T.DecimalType(6, 3)))])
    assert _mismatch(spark, ducks, schema, [([Decimal("1.5"), Decimal("2")],)],
                     "SELECT [1.5, 2.0]::DECIMAL(4,1)[] AS v") is None
