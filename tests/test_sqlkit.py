"""The parse modules' shared SQL vocabulary lives in one place."""

from __future__ import annotations

import ast
import pathlib

from openalex_walden_spark.queries import sqlkit

QUERIES = pathlib.Path(sqlkit.__file__).parent
KIT_ONLY = {"_helpers", "_build", "bar", "cs"}


def test_dialect_helpers_are_defined_only_in_the_kit():
    """Per-module copies of the dialect helpers, the Generate barrier
    and the DuckDB post-pass are gone; only ``sqlkit`` defines them."""
    found = sorted(
        f"{path.name}:{node.lineno} {node.name}"
        for path in QUERIES.glob("*.py") if path.name != "sqlkit.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.FunctionDef) and node.name in KIT_ONLY
    )
    assert found == []

