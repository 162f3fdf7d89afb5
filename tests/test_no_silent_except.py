"""No silent fallbacks: every broad ``except`` in the package must do
something with the error. A handler that catches everything and only
``pass``es (or holds a docstring) hides failures such as an unreadable
cache being retrained inside a timed query."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "finporter_spark"


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
    files = sorted(PKG.rglob("*.py"))
    assert files
    found = [
        f"{path.relative_to(PKG.parent)}:{node.lineno}"
        for path in files
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.ExceptHandler)
        and _is_broad(node)
        and _is_silent(node.body)
    ]
    assert found == [], "pass-only broad except handlers: " + ", ".join(found)
