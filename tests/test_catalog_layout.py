"""The catalog is laid out by domain: every query lives in one of the
ten domain modules, and catalog.py holds only the registry and the
shared helpers."""

from __future__ import annotations

import ast
import os

from finporter_spark.queries import catalog

DOMAINS = (
    "tpch",
    "relational",
    "ingest",
    "text_prep",
    "ann",
    "graph",
    "stats",
    "timeseries",
    "multimodal",
    "streaming",
)
QUERIES_DIR = os.path.dirname(catalog.__file__)


def test_every_query_lives_in_a_domain_module():
    allowed = {f"finporter_spark.queries.{d}" for d in DOMAINS}
    stray = {
        name: fn.__module__
        for name, (fn, _) in catalog.CATALOG.items()
        if name not in catalog.ALIASES and fn.__module__ not in allowed
    }
    assert not stray


def test_no_catalog_module_besides_the_registry():
    extra = sorted(
        f
        for f in os.listdir(QUERIES_DIR)
        if f.startswith("catalog_") and f.endswith(".py")
    )
    assert not extra


def test_registry_module_defines_no_query():
    with open(catalog.__file__) as fh:
        tree = ast.parse(fh.read())
    bodies = [
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        and any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
            for d in node.decorator_list
        )
    ]
    assert not bodies
