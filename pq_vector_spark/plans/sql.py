"""Vector-aware SQL entry point — the PySpark stand-in for the reference's
SQL surface, whose one entry to the index is a physical-optimizer rule
matching the plan (reference: src/df_vector/physical.rs:20-229).

``pq_sql`` expands the vector functions in the query text into native
Catalyst SQL (``expand_vector_functions``), runs it with ``spark.sql`` and
hands the result to the plan interceptor (``plans/intercept.py``), which
reroutes a top-k-by-distance plan over a registered indexed table to the
IVF probe. A plan the interceptor declines runs as written: the expanded
distance is a native SQL expression, so that answer is the correct
(brute-force, TakeOrderedAndProject) one.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from pq_vector_spark.functions.distance import SQL_TEMPLATES
# register_indexed_table lives beside its one reader, the interceptor, and
# is importable from here as the SQL surface's registration call
from pq_vector_spark.plans.intercept import register_indexed_table, try_intercept_topk
from pq_vector_spark.session import VectorTopKOptions

# Spark 4 forbids SQL scalar UDFs inside Sort, so pq_sql expands our
# distance functions textually into their native higher-order-function
# form (a macro, ≙ the reference's expression matcher working on
# array_distance by *name*, physical.rs:198-229).
_FN_EXPANSIONS = SQL_TEMPLATES


# a quoted SQL literal or identifier (backslash escapes included; a ''
# escape reads as two adjacent literals): its text is never rewritten
_QUOTED_RE = re.compile(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|`[^`]*`", re.DOTALL)


def _split_two_args(s: str) -> Optional[tuple]:
    """Split 'a, b' at its one top-level comma (a comma inside
    ``round(x, 2)`` or ``[1, 2]`` never splits); None unless there are
    exactly two arguments."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return tuple(parts) if len(parts) == 2 else None


_NUM = r"-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
# all-numeric [..] group NOT preceded by identifier/)/] (those are indexing)
_BRACKET_VEC_RE = re.compile(rf"(?<![\w\)\]])\[\s*({_NUM}(?:\s*,\s*{_NUM})*)\s*\]")
# an all-numeric array(...) argument of a distance function
_NUM_ARRAY_RE = re.compile(rf"array\(\s*{_NUM}(?:\s*,\s*{_NUM})*\s*\)", re.IGNORECASE)


def _rewrite_bracket_literals(query: str) -> str:
    """``[1.0, 2.0]`` → ``array(1.0, 2.0)`` — DataFusion/DuckDB accept the
    bracket form (the reference's tests use it, src/df_vector/tests.rs:79)
    but Spark SQL only parses ``array(...)``. Only all-numeric bracket
    groups are rewritten, so map/array indexing like ``m['k']`` or
    ``a[i]`` is untouched."""
    return _BRACKET_VEC_RE.sub(lambda m: f"array({m.group(1)})", query)


def expand_vector_functions(query: str) -> str:
    """Textually expand array_distance/squared_l2/... calls into native
    Catalyst higher-order-function SQL (JVM codegen, no Python workers).
    Quoted literals and identifiers stay as written."""
    quoted = []

    def stash(m):
        quoted.append(m.group(0))
        return f"\x00{len(quoted) - 1}\x00"

    out = _rewrite_bracket_literals(_QUOTED_RE.sub(stash, query))
    for name, template in _FN_EXPANSIONS.items():
        while True:
            m = re.search(rf"\b{name}\s*\(", out, re.IGNORECASE)
            if not m:
                break
            start = m.end()  # after '('
            depth, i = 1, start
            while i < len(out) and depth:
                if out[i] == "(":
                    depth += 1
                elif out[i] == ")":
                    depth -= 1
                i += 1
            args = _split_two_args(out[start : i - 1])
            if args is None:
                break
            # numeric vector arguments as double literals: the template casts
            # them to array<double> anyway (same doubles), and a decimal
            # literal per element costs the analyzer a widening cast each
            a, b = (
                re.sub(_NUM, r"\g<0>D", x) if _NUM_ARRAY_RE.fullmatch(x) else x
                for x in args
            )
            out = out[: m.start()] + template.format(a=a, b=b) + out[i:]
    return re.sub("\x00(\\d+)\x00", lambda m: quoted[int(m.group(1))], out)


def pq_sql(
    spark: SparkSession,
    query: str,
    options: Optional[VectorTopKOptions] = None,
    observation=None,
) -> DataFrame:
    """Run SQL; reroute a top-k-by-distance plan over a registered indexed
    table to the IVF probe.

    The query runs as ``spark.sql(expand_vector_functions(query))``; the
    plan interceptor then gets one chance at the optimized plan
    (``try_intercept_topk``, with ``options`` and the single-use
    ``observation`` for the probe). When it declines, the plan runs as
    written — a decline is never an error, exactly like the reference's
    rule declining to fire (src/df_vector/physical.rs:134-177);
    ``last_decline_reason()`` says which guard fired.
    """
    df = spark.sql(expand_vector_functions(query))
    hit = try_intercept_topk(spark, df, options=options, observation=observation)
    return df if hit is None else hit
