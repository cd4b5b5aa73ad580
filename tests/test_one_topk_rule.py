"""Source check: every vector top-k ranks through ``operators/topk.py``.
Its ``rank_order`` is the one ordering rule (score ascending with NULLs
last or descending, then an ascending tie-break). A sort key written by
hand in another vector module makes its own NULL and tie choice, so this
test walks their syntax trees and fails on any sort-direction method or
function they use."""

import ast
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "pq_vector_spark"
MODULES = [
    "index/search.py",
    "index/pq.py",
    "functions/quantize.py",
    "operators/similarity.py",
    "streaming/ingest.py",
]
SORT_CALLS = {
    "asc",
    "desc",
    "asc_nulls_first",
    "asc_nulls_last",
    "desc_nulls_first",
    "desc_nulls_last",
}


def sort_keys(source: str) -> list:
    """``(line, name)`` for every ``asc``/``desc`` in ``source``: a Column
    method or ``F.asc``/``F.desc``, called or not, and a call of a bare
    imported name."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Attribute) and node.attr in SORT_CALLS:
            found.append((node.lineno, node.attr))
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id in SORT_CALLS
        ):
            found.append((node.lineno, node.func.id))
    return sorted(found)


@pytest.mark.parametrize("module", MODULES)
def test_sort_keys_come_from_topk(module):
    calls = sort_keys((PACKAGE / module).read_text())
    assert not calls, f"{module} writes its own sort key at (line, call): {calls}"


def test_check_finds_every_sort_key():
    bad = """
from pyspark.sql import functions as F
from pyspark.sql.functions import desc

def a(df, c):
    return df.orderBy(F.col(c).asc(), F.col("id").asc_nulls_last())

def b(df, c, asc):
    order = [F.asc(c) if asc else F.desc(c)]
    return df.orderBy(*order, desc("id"))

def c(df):
    key = df["d"].desc_nulls_last
    return df.orderBy(key(), df["e"].desc_nulls_first(), df["f"].asc_nulls_first())

def d(df, asc):
    return df.orderBy("d", ascending=asc)
"""
    assert sort_keys(bad) == [
        (6, "asc"),
        (6, "asc_nulls_last"),
        (9, "asc"),
        (9, "desc"),
        (10, "desc"),
        (13, "desc_nulls_last"),
        (14, "asc_nulls_first"),
        (14, "desc_nulls_first"),
    ]
