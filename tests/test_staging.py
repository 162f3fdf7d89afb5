"""Staged input fixtures and dataset-state caches follow one reuse rule
(``caching.load_or_build``) and report whether they were reused or
rebuilt."""

from __future__ import annotations

import logging
import os

import pytest

import finporter_spark
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


def test_a_torn_rebuild_is_never_served(tmp_path, monkeypatch, caplog):
    """A writer that raises halfway through a restage leaves no marker,
    so the next call rebuilds even when the source is back at the
    version the old marker names."""
    monkeypatch.setattr(staging, "IO_ROOT", str(tmp_path / "io"))
    sf_dir = tmp_path / "sf0.01"
    src = sf_dir / "events.parquet"
    src.parent.mkdir()
    src.write_bytes(b"v1")
    v1 = os.stat(src)

    def write(version, fail=False):
        def write_fn(path):
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "data"), "w") as fh:
                fh.write(version)
            if fail:
                raise RuntimeError("writer died halfway")

        return write_fn

    def served(path):
        with open(os.path.join(path, "data")) as fh:
            return fh.read()

    path = staging.stage_once(str(sf_dir), "t", write("v1"), "events")
    assert served(path) == "v1"
    src.write_bytes(b"v2-longer")
    with pytest.raises(RuntimeError):
        staging.stage_once(
            str(sf_dir), "t", write("HALF-WRITTEN-v2", fail=True), "events"
        )
    src.write_bytes(b"v1")
    os.utime(src, ns=(v1.st_atime_ns, v1.st_mtime_ns))
    with caplog.at_level(logging.INFO, logger="finporter_spark"):
        staging.stage_once(str(sf_dir), "t", write("v1"), "events")
    assert caplog.messages == [
        f"staging rebuild: {path} (no _staged_fingerprint marker)"
    ]
    assert served(path) == "v1"


def test_only_the_cache_module_knows_the_marker_names():
    """Reuse markers are named in ``caching.py`` alone; every other
    module reuses dataset state through ``caching.load_or_build``."""
    root = os.path.dirname(finporter_spark.__file__)
    named = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            if not f.endswith(".py") or p == os.path.join(root, "caching.py"):
                continue
            with open(p) as fh:
                text = fh.read()
            named += [
                f"{os.path.relpath(p, root)}: {m}"
                for m in ("_staged_fingerprint", "_SUCCESS")
                if m in text
            ]
    assert named == []


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
