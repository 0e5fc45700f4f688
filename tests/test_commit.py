"""The engine's one commit protocol: `datamodel.commit_file` for single
files and `datamodel.publish_staged_dir` for staged directories. A failed
commit must leave the previously committed output exactly as it was and
no temp droppings beside it."""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

import pytest

from gdalos_spark.datamodel import commit_file
from tests.conftest import SF_DIR


def test_commit_file_replaces_final(tmp_path):
    final = tmp_path / "out.bin"
    final.write_bytes(b"old")
    # the temp file exists (empty) before `write` runs: sqlite opens it
    # as an empty database, which is what the GPKG writer relies on
    commit_file(str(final), lambda tmp: None)
    assert final.read_bytes() == b""
    commit_file(str(final), lambda tmp: Path(tmp).write_bytes(b"new"))
    assert final.read_bytes() == b"new"
    assert os.listdir(tmp_path) == ["out.bin"]


def test_commit_file_failure_keeps_final_and_leaves_no_part(tmp_path):
    final = tmp_path / "scene_00000.tif"
    final.write_bytes(b"committed bytes")
    seen = []

    def write(tmp: str) -> None:
        seen.append(tmp)
        with open(tmp, "wb") as f:
            f.write(b"half a new fi")
        raise RuntimeError("task died mid-write")

    with pytest.raises(RuntimeError, match="mid-write"):
        commit_file(str(final), write)
    # the temp file lived next to final, and is gone again
    assert os.path.dirname(seen[0]) == str(tmp_path)
    assert os.path.basename(seen[0]).endswith(".part")
    assert final.read_bytes() == b"committed bytes"
    assert os.listdir(tmp_path) == ["scene_00000.tif"]


@pytest.mark.parametrize(
    "stager, ext", [("_stage_csv", "csv"), ("_stage_jsonl", "jsonl")]
)
def test_text_restage_failure_keeps_published_store(
    spark, tmp_path, monkeypatch, stager, ext
):
    """A restage (new events fingerprint) that fails after Spark wrote the
    new parts must leave the published store listing the same part files
    and marker, with no `<slug>_tmp` or hidden temp dir beside it."""
    from gdalos_spark.sources import csv_ingest

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stage = getattr(csv_ingest, stager)
    d = stage(spark, SF_DIR)
    kind_dir = os.path.dirname(d)
    listing = sorted(os.listdir(d))
    with open(os.path.join(d, "_STAGED")) as f:
        marker = f.read()
    assert f"part0.{ext}" in listing and "_STAGED" in listing

    monkeypatch.setattr(csv_ingest, "source_fingerprint", lambda p: "regenerated")
    real_replace = os.replace

    def failing_replace(src, dst):
        if str(dst).endswith(f".{ext}"):
            raise OSError("disk full while renaming a part")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError, match="disk full"):
        stage(spark, SF_DIR)
    monkeypatch.setattr(os, "replace", real_replace)

    assert sorted(os.listdir(d)) == listing
    with open(os.path.join(d, "_STAGED")) as f:
        assert f.read() == marker
    assert os.listdir(kind_dir) == [os.path.basename(d)]

    # the next restage succeeds and swaps in the new store
    assert stage(spark, SF_DIR) == d
    assert sorted(os.listdir(d)) == listing
    with open(os.path.join(d, "_STAGED")) as f:
        assert f.read() == "regenerated"
    assert os.listdir(kind_dir) == [os.path.basename(d)]
