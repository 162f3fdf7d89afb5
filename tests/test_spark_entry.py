"""Helpers in __spark_entry__ that need no live Spark session."""

from __future__ import annotations

import types
import zipfile

import __spark_entry__ as entry


class _FakeContext:
    def __init__(self):
        self.shipped: list[str] = []

    def addPyFile(self, path):
        self.shipped.append(path)


def test_ship_package_zips_to_a_per_process_path():
    """Each new SparkContext ships a zip this process wrote to its own
    temp directory, never one shared path that concurrent processes
    would overwrite; the zip carries the package."""
    a, b = _FakeContext(), _FakeContext()
    for sc in (a, b, a):
        entry._ship_package(types.SimpleNamespace(sparkContext=sc))
    assert len(a.shipped) == 1 and len(b.shipped) == 1  # once per context
    assert a.shipped[0] != b.shipped[0]
    for path in a.shipped + b.shipped:
        assert path != "/tmp/finporter_spark_pkg.zip"
        with zipfile.ZipFile(path) as zf:
            assert "finporter_spark/__init__.py" in zf.namelist()
