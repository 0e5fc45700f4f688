"""Bucketed-table layout: the co-located join story for SURVEY §6.

Writing both fact tables bucketed by the join key lets Spark plan the
join with ZERO exchanges — the join runs bucket-to-bucket. This is the
mechanism that removes the dominant shuffle from repeated big-fact joins
at 100 TB (bucket once at ingest, join shuffle-free forever after).
"""
from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gdalos_spark.session import scoped_conf
from tests.conftest import SF_DIR

# The staged layout is pinned at the count these tests always used and
# at the count stage_facts sizes by default (1 bucket at sf0.001).
STAGED_BUCKETS = pytest.mark.parametrize(
    "buckets", [pytest.param(4, id="buckets4"), pytest.param(None, id="sized")]
)


def test_bucketed_join_has_no_exchange(spark, tmp_path_factory):
    from gdalos_spark.datamodel import load

    wh = str(tmp_path_factory.mktemp("bucketed_wh"))
    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_orderdate")
    from gdalos_spark.sources.bucketed import write_bucketed

    confs = {
        "spark.sql.sources.bucketing.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_conf(spark, confs):
        write_bucketed(li, f"{wh}/li_b", "li_b", "l_orderkey")
        write_bucketed(orders, f"{wh}/ord_b", "ord_b", "o_orderkey")
        try:
            j = spark.table("li_b").join(
                spark.table("ord_b"), F.col("l_orderkey") == F.col("o_orderkey")
            ).groupBy("o_orderdate").agg(F.count(F.lit(1)).alias("n"))
            plan = j._jdf.queryExecution().executedPlan().toString()
            # the join itself must be exchange-free: the only exchange allowed
            # in the whole plan is the one for the final groupBy
            assert "SortMergeJoin" in plan
            join_part = plan[plan.index("SortMergeJoin"):]
            assert "Exchange" not in join_part, "bucketed join still shuffles"
            assert j.count() > 0
        finally:
            spark.sql("DROP TABLE IF EXISTS li_b")
            spark.sql("DROP TABLE IF EXISTS ord_b")


@STAGED_BUCKETS
def test_default_loader_serves_staged_bucketed_facts(spark, monkeypatch, tmp_path_factory, buckets):
    """The VERDICT-r06 contract: once stage_facts has run for a source
    fingerprint, `datamodel.load` serves the bucketed layout and the
    Q3-family plan carries ZERO hash-partitioning exchanges — join AND
    the orderkey groupBy both reuse the bucket partitioning."""
    from gdalos_spark.sources import bucketed
    from gdalos_spark.operators.relational import top_orders

    root = str(tmp_path_factory.mktemp("bucketed_root"))
    monkeypatch.setenv("GDALOS_BUCKETED_ROOT", root)

    staged = bucketed.stage_facts(spark, SF_DIR, buckets=buckets)
    assert set(staged) == {"orders", "lineitem", "events", "customer"}
    # idempotent: same fingerprint re-stages nothing
    assert bucketed.stage_facts(spark, SF_DIR, buckets=buckets) == []

    from gdalos_spark.datamodel import load

    li = load(spark, SF_DIR, "lineitem")
    # served from a catalog table whose location is THIS root (the plan
    # string truncates paths, so check the catalog, not the plan text)
    scan = li._jdf.queryExecution().executedPlan().toString()
    assert "gdalos_b_lineitem" in scan
    tbl = next(
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("gdalos_b_lineitem")
        and root in spark.sql(f"DESCRIBE FORMATTED {t.name}")
        .filter("col_name = 'Location'").first()["data_type"]
    )
    assert tbl in scan

    q = top_orders(spark, SF_DIR)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    # values identical to the plain-parquet path
    rows_bucketed = [tuple(r) for r in q.collect()]
    monkeypatch.setenv("GDALOS_BUCKETED_ROOT", str(tmp_path_factory.mktemp("empty")))
    rows_plain = [tuple(r) for r in top_orders(spark, SF_DIR).collect()]
    assert rows_bucketed == rows_plain


def test_attach_rejects_stale_fingerprint(spark, monkeypatch, tmp_path_factory, tmp_path):
    """A regenerated source parquet must fall back to the plain scan."""
    import shutil

    from gdalos_spark.sources import bucketed

    root = str(tmp_path_factory.mktemp("bucketed_root2"))
    monkeypatch.setenv("GDALOS_BUCKETED_ROOT", root)
    # stage against a private copy of the sf dir, then touch the source
    sf_copy = tmp_path / "sf"
    sf_copy.mkdir()
    for t in ("orders", "lineitem"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", sf_copy / f"{t}.parquet")
    bucketed.stage_facts(spark, str(sf_copy), buckets=4)
    assert bucketed.attach(spark, str(sf_copy), "orders") is not None
    os.utime(sf_copy / "orders.parquet")  # new mtime -> new fingerprint
    assert bucketed.attach(spark, str(sf_copy), "orders") is None


@STAGED_BUCKETS
def test_default_loader_serves_bucketed_events_window(spark, monkeypatch, tmp_path_factory, buckets):
    """The user_id window family (sessionize/funnel/retention/streaks)
    over staged events must carry ZERO exchanges and ZERO sorts: the
    bucket spec satisfies the window's ClusteredDistribution and the
    (user_id, ts, event_id) SORTED BY — one file per bucket — satisfies
    its required ordering. Values pinned against the plain-scan path."""
    from gdalos_spark.operators.relational import events_sessionize
    from gdalos_spark.sources import bucketed

    root = str(tmp_path_factory.mktemp("bucketed_root_ev"))
    monkeypatch.setenv("GDALOS_BUCKETED_ROOT", root)
    assert "events" in bucketed.stage_facts(spark, SF_DIR, buckets=buckets)

    q = events_sessionize(spark, SF_DIR)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "gdalos_b_events" in plan
    assert "Exchange hashpartitioning" not in plan, plan
    # the only Sort allowed is the final presentation orderBy (a range
    # exchange), not a hashpartitioning-feeding window sort
    win_part = plan[plan.index("Window") :] if "Window" in plan else plan
    assert "Sort [user_id" not in win_part.replace("#", " #"), plan
    rows_bucketed = [tuple(r) for r in q.collect()]
    monkeypatch.setenv("GDALOS_BUCKETED_ROOT", str(tmp_path_factory.mktemp("empty_ev")))
    rows_plain = [tuple(r) for r in events_sessionize(spark, SF_DIR).collect()]
    assert rows_bucketed == rows_plain


@STAGED_BUCKETS
def test_large_regime_custkey_edge(spark, monkeypatch, tmp_path_factory, buckets):
    """Above CUSTKEY_BROADCAST_MAX_ROWS the Q3/Q5 custkey edge must stop
    broadcasting fact-sized frames: top_orders runs the semi-join + SMJ
    shape with ZERO hash exchanges over the staged layout, and both keys
    stay value-identical to the small-regime (broadcast) plan."""
    import gdalos_spark.operators.relational as R
    from gdalos_spark.sources import bucketed

    small_t = [tuple(r) for r in R.top_orders(spark, SF_DIR).collect()]
    small_r = [tuple(r) for r in R.region_volume(spark, SF_DIR).collect()]

    root = str(tmp_path_factory.mktemp("bucketed_root_lr"))
    monkeypatch.setenv("GDALOS_BUCKETED_ROOT", root)
    bucketed.stage_facts(spark, SF_DIR, buckets=buckets)
    monkeypatch.setattr(R, "CUSTKEY_BROADCAST_MAX_ROWS", 0)

    t = R.top_orders(spark, SF_DIR)
    plan = t._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert [tuple(r) for r in t.collect()] == small_t
    assert [tuple(r) for r in R.region_volume(spark, SF_DIR).collect()] == small_r


def _bucket_ids(final: str) -> list[int]:
    """Bucket id of every data file in a staged dir (Spark names bucket
    files `part-..._<id>.c000...`)."""
    return sorted(
        int(re.search(r"_(\d{5})\.", f).group(1))
        for f in os.listdir(final)
        if not f.startswith(("_", "."))
    )


def test_stage_facts_sizes_one_bucket_count(spark, monkeypatch, tmp_path_factory):
    """A default stage_facts sizes ONE bucket count from the facts' bytes
    and writes it into every marker, at most one file per bucket: 1 at sf0.001,
    and the session's shuffle partitions (8) when 1-byte AQE sizes make
    the rule clamp. A second call with the same sizing stages nothing."""
    from gdalos_spark.sources import bucketed

    tiny = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1b",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b",
    }
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert cap == 8
    for confs, expect in (({}, 1), (tiny, cap)):
        root = str(tmp_path_factory.mktemp("bucketed_root_sized"))
        monkeypatch.setenv("GDALOS_BUCKETED_ROOT", root)
        with scoped_conf(spark, confs):
            staged = bucketed.stage_facts(spark, SF_DIR)
            assert bucketed.stage_facts(spark, SF_DIR) == []
        assert set(staged) == set(bucketed.BUCKETED_FACTS)
        for name in staged:
            final = bucketed._final_dir(SF_DIR, name)
            assert bucketed._marker_meta(final)["buckets"] == expect, name
            ids = _bucket_ids(final)
            # at most one file per bucket (a bucket no key hashes to
            # writes no file: sf0.001 events has few users)
            assert len(ids) == len(set(ids)) and set(ids) <= set(range(expect)), name
            assert len(ids) >= min(expect, 2), name
