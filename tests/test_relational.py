"""Oracle-parity tests for the relational core (SURVEY §2 #23-27)."""

import pytest

import __spark_entry__ as entrymod
from gdalos_spark.session import scoped_conf
from tests.conftest import assert_matches_oracle, assert_record_matches_oracle

RELATIONAL_KEYS = [
    "pricing_summary",
    "top_orders",
    "region_volume",
    "events_sessionize",
    "events_windowed_agg",
    "skewed_agg_salted",
    "order_priority_counts",
    "customer_order_distribution",
    "promo_revenue",
    "large_orders",
    "running_totals",
    "events_json_extract",
    "pricing_rollup",
    "events_type_pivot",
    "job_schedule_order",
]


@pytest.mark.parametrize("key", RELATIONAL_KEYS)
def test_relational_matches_oracle(record, ducks, key):
    assert_record_matches_oracle(record, ducks, key)


def test_events_type_pivot_is_zone_free(spark, ducks):
    """The pivot's day is the UTC calendar day of the event whatever the
    session time zone: a zone-adjusted day would move events before
    08:00 UTC to the previous day under America/Los_Angeles."""
    with scoped_conf(spark, {"spark.sql.session.timeZone": "America/Los_Angeles"}):
        assert_matches_oracle(
            spark,
            ducks,
            entrymod.queries()["events_type_pivot"],
            entrymod.oracle_sql()["events_type_pivot"],
        )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_skewed_agg_salted_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "skewed_agg_salted")


def test_raster_calc_multi_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "raster_calc_multi")


def test_job_skip_overwrite_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "job_skip_overwrite")


def test_job_skip_overwrite_contract(spark):
    """do_skip_if_exists semantics: exists & !overwrite -> skip with no
    run slot; run_order is dense 1..n over non-skipped jobs in
    (lvl, -size, nation) order."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["job_skip_overwrite"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        if r.out_exists and not r.overwrite:
            assert r.action == "skip" and r.run_order == 0
        elif r.out_exists:
            assert r.action == "overwrite" and r.run_order > 0
        else:
            assert r.action == "run" and r.run_order > 0
    orders = sorted(r.run_order for r in rows if r.run_order > 0)
    assert orders == list(range(1, len(orders) + 1))


def test_disjunctive_revenue_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "disjunctive_revenue")


def test_export_jsonl_shards_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "export_jsonl_shards")


def test_disjunctive_revenue_total_is_arm_sum(spark):
    import __spark_entry__ as E
    from tests.conftest import SF_DIR

    rows = {r.arm: r for r in E.queries()["disjunctive_revenue"](spark, SF_DIR).collect()}
    assert rows[0].n_items == sum(r.n_items for a, r in rows.items() if a != 0)


def test_events_funnel_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "events_funnel")


def test_events_funnel_step_ordering(spark):
    """Step timestamps must be strictly increasing where reached."""
    import __spark_entry__ as E
    from tests.conftest import SF_DIR

    for r in E.queries()["events_funnel"](spark, SF_DIR).collect():
        if r.stage >= 2:
            assert r.t2_sec >= r.t1_sec
        if r.stage == 3:
            assert r.t3_sec >= r.t2_sec
        if r.stage < 3:
            assert r.t3_sec == -1


def test_events_retention_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "events_retention")


def test_events_retention_bounds(spark):
    import __spark_entry__ as E
    from tests.conftest import SF_DIR

    rows = E.queries()["events_retention"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_active <= r.cohort_n
        assert 0.0 < r.retention <= 1.0
        assert r.offset_wk >= 0
