"""Staged input fixtures report whether they were reused or rebuilt."""

from __future__ import annotations

import logging
import os

from finporter_spark.queries import staging


def test_stage_once_logs_hit_and_rebuild_reason(tmp_path, monkeypatch, caplog):
    monkeypatch.setattr(staging, "IO_ROOT", str(tmp_path / "io"))
    sf_dir = tmp_path / "sf0.01"
    src = sf_dir / "events.parquet"
    src.parent.mkdir()
    src.write_bytes(b"v1")
    writes: list[str] = []

    def write(path):
        os.makedirs(path, exist_ok=True)
        writes.append(path)

    def stage():
        caplog.clear()
        path = staging.stage_once(str(sf_dir), "t", write, "events")
        return path, [r.getMessage() for r in caplog.records]

    with caplog.at_level(logging.INFO, logger="finporter_spark"):
        path, msgs = stage()
        assert msgs == [
            f"staging rebuild: {path} (no _staged_fingerprint marker)"
        ]
        assert stage() == (path, [f"staging hit: {path}"])
        # a regenerated source changes the stat fingerprint
        src.write_bytes(b"v2-longer")
        assert stage() == (
            path, [f"staging rebuild: {path} (fingerprint changed)"]
        )
        assert stage() == (path, [f"staging hit: {path}"])
    assert writes == [path, path]


def test_io_dir_is_keyed_on_the_dataset_not_its_basename(
    tmp_path, monkeypatch
):
    monkeypatch.setattr(staging, "IO_ROOT", str(tmp_path / "io"))
    a, b = tmp_path / "a" / "sf0.001", tmp_path / "b" / "sf0.001"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    assert staging.io_dir(str(a), "q") != staging.io_dir(str(b), "q")
    link = tmp_path / "link"
    link.symlink_to(a)
    monkeypatch.chdir(tmp_path / "a")
    assert (
        staging.io_dir(str(a), "q")
        == staging.io_dir(str(link), "q")
        == staging.io_dir("sf0.001", "q")
        == staging.io_dir(str(a) + "/", "q")
    )
    assert staging.io_dir(str(a), "q").startswith(str(tmp_path / "io"))
