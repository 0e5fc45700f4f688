"""The source catalog: `datamodel.load` serves every source through one
external catalog table per (absolute path, source fingerprint). A
registered table loads with no Spark job, and a changed source is never
served from a stale registration."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

from gdalos_spark.datamodel import load, source_fingerprint
from gdalos_spark.session import scoped_conf
from tests.conftest import SF_DIR, assert_matches_oracle, jobs_run


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_second_load_runs_no_job(spark, tmp_path):
    """The first load registers the table (one schema-inference job); a
    second load is a catalog lookup: no job, the same table."""
    shutil.copy(f"{SF_DIR}/supplier.parquet", tmp_path / "supplier.parquet")
    first = load(spark, str(tmp_path), "supplier")
    again, jobs = jobs_run(spark, lambda: load(spark, str(tmp_path), "supplier"))
    assert jobs == 0
    assert again.inputFiles() == first.inputFiles()
    assert rows(again) == rows(first)


def test_rewritten_source_reads_new_rows(spark, tmp_path):
    """A source rewritten with other rows has a new fingerprint, so it
    registers a new table and load() reads the new rows."""
    path = tmp_path / "nation.parquet"
    shutil.copy(f"{SF_DIR}/nation.parquet", path)
    before = rows(load(spark, str(tmp_path), "nation"))
    fp = source_fingerprint(str(path))
    table = pq.read_table(path)
    pq.write_table(table.slice(0, 5), path)
    assert source_fingerprint(str(path)) != fp
    assert rows(load(spark, str(tmp_path), "nation")) == before[:5]


def test_rewritten_part_of_directory_source_reads_new_rows(spark, tmp_path):
    """A directory source is fingerprinted by its data files, so a part
    file rewritten in place (the directory's own mtime unchanged) reads
    back new rows instead of the registered listing's stale split."""
    src = tmp_path / "region.parquet"
    src.mkdir()
    table = pq.read_table(f"{SF_DIR}/region.parquet")
    pq.write_table(table.slice(0, 2), src / "part-0.parquet")
    pq.write_table(table.slice(2), src / "part-1.parquet")
    assert rows(load(spark, str(tmp_path), "region")) == sorted(
        tuple(r.values()) for r in table.to_pylist()
    )
    dir_mtime = os.stat(src).st_mtime_ns
    pq.write_table(table.slice(4), src / "part-1.parquet")
    assert os.stat(src).st_mtime_ns == dir_mtime
    kept = table.slice(0, 2).to_pylist() + table.slice(4).to_pylist()
    want = sorted(tuple(r.values()) for r in kept)
    assert rows(load(spark, str(tmp_path), "region")) == want


def test_unstaged_events_load_matches_oracle_off_utc(spark, ducks):
    """The plain events table keeps load()'s zone-free ts normalization:
    under a non-UTC session zone it still equals the stored values."""
    with scoped_conf(spark, {"spark.sql.session.timeZone": "America/Los_Angeles"}):
        assert_matches_oracle(
            spark, ducks, lambda s, d: load(s, d, "events"), "SELECT * FROM events"
        )


def _tables_at(spark, prefix, path):
    """Catalog tables named `prefix*` whose location is `path`."""
    found = []
    for t in spark.catalog.listTables(pattern=f"{prefix}*"):
        desc = spark.sql(f"DESCRIBE TABLE EXTENDED {t.name}").collect()
        loc = next(r.data_type for r in desc if r.col_name == "Location")
        if os.path.abspath(loc.removeprefix("file:")) == os.path.abspath(path):
            found.append(t.name)
    return found


def test_rewrite_drops_the_superseded_table(spark, tmp_path):
    """Re-registering a path under a new fingerprint drops the old
    external table (the files stay): exactly one `gdalos_src_*` table
    points at the path, and it reads the new rows."""
    path = tmp_path / "region.parquet"
    shutil.copy(f"{SF_DIR}/region.parquet", path)
    load(spark, str(tmp_path), "region")
    table = pq.read_table(path)
    pq.write_table(table.slice(0, 3), path)
    new = rows(load(spark, str(tmp_path), "region"))
    (name,) = _tables_at(spark, "gdalos_src_", path)
    assert rows(spark.table(name)) == new == sorted(
        tuple(r.values()) for r in table.slice(0, 3).to_pylist()
    )
    assert path.exists()


def test_bucketed_registration_leaves_no_plain_table(spark, monkeypatch, tmp_path):
    """A bucketed store registers only its bucketed table: no plain
    `gdalos_src_*` table is left on the store's path."""
    from gdalos_spark.sources import bucketed

    monkeypatch.setenv("GDALOS_BUCKETED_ROOT", str(tmp_path / "root"))
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(f"{SF_DIR}/orders.parquet", sf / "orders.parquet")
    bucketed.stage_facts(spark, str(sf), buckets=2)
    assert bucketed.attach(spark, str(sf), "orders") is not None
    store = bucketed._final_dir(str(sf), "orders")
    assert len(_tables_at(spark, "gdalos_b_", store)) == 1
    assert _tables_at(spark, "gdalos_src_", store) == []
