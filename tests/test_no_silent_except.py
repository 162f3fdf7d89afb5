"""No silent fallbacks: every broad ``except`` in the package and in
the driver entry point must do something with the error. A handler
that catches everything and only ``pass``es (or holds a docstring)
hides failures such as an unreadable cache being retrained inside a
timed query."""

from __future__ import annotations

import ast
import logging
import pathlib
import types

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "finporter_spark"


def _is_broad(handler: ast.ExceptHandler) -> bool:
    return handler.type is None or (
        isinstance(handler.type, ast.Name)
        and handler.type.id in ("Exception", "BaseException")
    )


def _is_silent(body: list[ast.stmt]) -> bool:
    return all(
        isinstance(stmt, ast.Pass)
        or (
            isinstance(stmt, ast.Expr)
            and isinstance(stmt.value, ast.Constant)
            and isinstance(stmt.value.value, str)
        )
        for stmt in body
    )


def test_no_pass_only_broad_except_handlers():
    files = sorted(PKG.rglob("*.py")) + [REPO / "__spark_entry__.py"]
    assert files
    found = [
        f"{path.relative_to(REPO)}:{node.lineno}"
        for path in files
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.ExceptHandler)
        and _is_broad(node)
        and _is_silent(node.body)
    ]
    assert found == [], "pass-only broad except handlers: " + ", ".join(found)


def test_ship_package_failure_is_logged(caplog):
    """A package zip that cannot be shipped leaves a warning naming the
    zip and the error instead of vanishing."""
    import __spark_entry__ as entry

    def refuse(path):
        raise OSError("addPyFile refused")

    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(addPyFile=refuse)
    )
    with caplog.at_level(logging.WARNING, logger="finporter_spark"):
        entry._ship_package(spark)
    msgs = [r.getMessage() for r in caplog.records]
    assert any(
        "finporter_spark_pkg.zip" in m and "addPyFile refused" in m
        for m in msgs
    ), msgs
