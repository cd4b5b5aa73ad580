"""Source check: the text and dedup operators that render their expression
as SQL run that render unconditionally. A ``try`` around ``F.expr(...)`` or
``.sql(...)`` there would hide a second, Column-built path behind a parse
error, so this test walks their syntax trees and fails on any such call."""

import ast
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "pq_vector_spark"
MODULES = ["functions/text.py", "operators/dedup.py", "operators/hybrid.py"]
RENDER_CALLS = {"expr", "sql"}


def guarded_renders(source: str) -> list:
    """``(line, call)`` for every ``expr``/``sql`` call inside a ``try``
    body or handler in ``source``."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Try):
            continue
        guarded = node.body + [s for h in node.handlers for s in h.body]
        for stmt in guarded:
            for sub in ast.walk(stmt):
                if not isinstance(sub, ast.Call):
                    continue
                f = sub.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in RENDER_CALLS:
                    found.append((sub.lineno, name))
    return sorted(set(found))


@pytest.mark.parametrize("module", MODULES)
def test_sql_renders_are_not_guarded(module):
    calls = guarded_renders((PACKAGE / module).read_text())
    assert not calls, f"{module} guards a SQL render at (line, call): {calls}"


def test_check_finds_every_guarded_render():
    bad = """
from pyspark.sql import functions as F
from pyspark.sql.functions import expr

def a(df, q):
    try:
        return F.expr(q)
    except Exception:
        return None

def b(df, q):
    try:
        out = df.sparkSession.sql(q, df=df)
    except ValueError:
        out = None
    return out

def c(q):
    try:
        return build(q)
    except Exception:
        return expr(q)

def d(df, q):
    F.expr(q)
    df.sparkSession.sql(q)
    try:
        return int(q)
    except ValueError:
        return 0
"""
    assert guarded_renders(bad) == [(7, "expr"), (13, "sql"), (22, "expr")]
