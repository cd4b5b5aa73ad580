"""Vector-aware SQL entry point — the PySpark stand-in for the reference's
physical-optimizer rule (reference: src/df_vector/physical.rs:20-229).

PySpark cannot inject physical plan rules (that needs a JVM
``SparkSessionExtensions`` jar — documented upgrade path, SURVEY §7/M4).
Instead we pattern-match the *same* narrow query shape the reference's rule
matches, with the same guard list (physical.rs:134-177):

  SELECT <proj> FROM <table> [WHERE <pred>]
  ORDER BY array_distance(<col>, array(<floats>)) [ASC]   -- exactly 1 key
  LIMIT <k>                                               -- no OFFSET

and route it to the indexed top-k path when ``<table>`` is a registered
indexed table. Everything else — and any parse miss — falls through to
``spark.sql`` untouched, where ``register_sql_functions`` has already made
``array_distance`` a native SQL expression, so even the fallback computes
the correct (brute-force, TakeOrderedAndProject) answer.

Cast/TryCast stripping (physical.rs:216-229) is irrelevant here because we
match the textual form before analysis; DESC / OFFSET / multi-key sorts are
rejected exactly as the reference rejects them (physical.rs:139-145).
"""

from __future__ import annotations

import re
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pq_vector_spark.functions.distance import SQL_TEMPLATES
from pq_vector_spark.session import VectorTopKOptions

_TOPK_RE = re.compile(
    r"""^\s*SELECT\s+(?P<proj>.+?)\s+FROM\s+(?P<table>[\w.]+)\s*
        (?:WHERE\s+(?P<where>.+?)\s*)?
        ORDER\s+BY\s+array_distance\s*\(\s*(?P<col>[\w.]+)\s*,\s*
            (?:array\s*)?[(\[](?P<vec>[^\])]+)[)\]]\s*\)\s*(?P<dir>ASC|DESC)?\s*
        LIMIT\s+(?P<k>\d+)\s*(?P<offset>OFFSET\s+\d+)?\s*;?\s*$""",
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)


def _mask_quoted(s: str) -> str:
    """Replace the CONTENTS of SQL string/identifier literals with ``_`` so
    structural regexes can't be fooled by quoted text (e.g. a WHERE literal
    containing ``ORDER BY ... LIMIT``). Quote chars stay, lengths are
    preserved, so match spans map 1:1 back onto the original text.
    Handles '' escapes; an unterminated quote masks to the end (the regex
    then simply fails to match → safe fall-through)."""
    out = list(s)
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n:
                if s[j] == ch:
                    if ch == "'" and j + 1 < n and s[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            for k in range(i + 1, min(j, n)):
                out[k] = "_"
            i = j + 1
        else:
            i += 1
    return "".join(out)

# tables registered as "indexed": name -> filesystem path of the indexed layout
_INDEXED_TABLES: Dict[str, str] = {}


def register_indexed_table(spark: SparkSession, name: str, path: str) -> None:
    """Make ``name`` queryable in SQL *and* eligible for the indexed rewrite
    (≙ the reference wiring its rule into the session, session.rs:24-35)."""
    spark.read.parquet(path).drop("_pq_cluster_id").createOrReplaceTempView(name)
    _INDEXED_TABLES[name] = path


# Spark 4 forbids SQL scalar UDFs inside Sort, so the fallback path expands
# our distance functions textually into their native higher-order-function
# form (a macro, ≙ the reference's expression matcher working on
# array_distance by *name*, physical.rs:198-229).
_FN_EXPANSIONS = SQL_TEMPLATES


def _split_top_level(s: str) -> list:
    """Split at top-level commas only — paren/bracket depth AND quote aware
    (a comma inside ``round(x, 2)`` or ``'a, b'`` never splits)."""
    parts, depth, start, i, n = [], 0, 0, 0, len(s)
    while i < n:
        ch = s[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n:
                if s[j] == ch:
                    if ch == "'" and j + 1 < n and s[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1 if j < n else n
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
        i += 1
    parts.append(s[start:].strip())
    return parts


def _split_two_args(s: str) -> Optional[tuple]:
    """Split 'a, b' at the top-level comma (paren/bracket/quote aware)."""
    parts = _split_top_level(s)
    if len(parts) == 2:
        return parts[0], parts[1]
    return None


# all-numeric [..] group NOT preceded by identifier/)/] (those are indexing)
_BRACKET_VEC_RE = re.compile(
    r"(?<![\w\)\]])\[\s*(-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
    r"(?:\s*,\s*-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)*)\s*\]"
)


def _rewrite_bracket_literals(query: str) -> str:
    """``[1.0, 2.0]`` → ``array(1.0, 2.0)`` — DataFusion/DuckDB accept the
    bracket form (the reference's tests use it, src/df_vector/tests.rs:79)
    but Spark SQL only parses ``array(...)``. Only all-numeric bracket
    groups are rewritten, so map/array indexing like ``m['k']`` or
    ``a[i]`` is untouched."""
    return _BRACKET_VEC_RE.sub(lambda m: f"array({m.group(1)})", query)


def expand_vector_functions(query: str) -> str:
    """Textually expand array_distance/squared_l2/... calls into native
    Catalyst higher-order-function SQL (JVM codegen, no Python workers)."""
    out = _rewrite_bracket_literals(query)
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
            a, b = args
            out = out[: m.start()] + template.format(a=a, b=b) + out[i:]
    return out


_SUBQUERY_RE = re.compile(r"\(\s*SELECT\b", re.IGNORECASE)


def _fallback(
    spark: SparkSession,
    query: str,
    options: Optional[VectorTopKOptions],
    observation=None,
) -> DataFrame:
    """The decline path for the textual matcher: run the expanded query
    through plain ``spark.sql``, then give the PLAN-level interceptor
    (plans/intercept.py — the analogue of the reference's physical rule,
    physical.rs:20-229) one shot at rerouting the optimized plan to the
    IVF probe. Queries the regex can't see (CTEs, subselects, odd
    formatting) still hit the index this way; a second decline returns the
    correct brute-force DataFrame."""
    df = spark.sql(expand_vector_functions(query))
    from pq_vector_spark.plans.intercept import try_intercept_topk

    hit = try_intercept_topk(spark, df, options=options, observation=observation)
    return hit if hit is not None else df


def pq_sql(
    spark: SparkSession,
    query: str,
    options: Optional[VectorTopKOptions] = None,
    observation=None,
) -> DataFrame:
    """Run SQL; rewrite the one top-k-by-distance shape to the IVF path.

    Structure is matched against a QUOTE-MASKED copy of the query (string
    literals can't fake an ``ORDER BY``/``LIMIT``); the actual fragments are
    sliced from the original text by match span. Every guard falls through
    to ``_fallback`` — plain ``spark.sql`` over the expanded (brute-force)
    form plus one plan-level interception attempt — so a fall-through is
    never an error, exactly like the reference's rule declining to fire
    (src/df_vector/physical.rs:134-177).
    """
    masked = _mask_quoted(query)
    m = _TOPK_RE.match(masked)
    if not m:
        return _fallback(spark, query, options, observation)
    if m.group("dir") and m.group("dir").upper() == "DESC":
        # ASC-only guard (physical.rs:143-145)
        return _fallback(spark, query, options, observation)
    if m.group("offset"):
        # no-OFFSET guard (physical.rs:36-90)
        return _fallback(spark, query, options, observation)
    table = m.group("table")
    path = _INDEXED_TABLES.get(table)
    if path is None:
        # not an indexed table by NAME — the plan interceptor still catches
        # aliases/views over a registered indexed PATH; otherwise plain
        # Spark SQL (brute-force top-k; Spark compiles it to
        # TakeOrderedAndProject, already the optimal exact plan)
        return _fallback(spark, query, options, observation)
    # fragments from the ORIGINAL text (masking is structural only)
    proj = query[slice(*m.span("proj"))].strip()
    where = query[slice(*m.span("where"))] if m.group("where") else None
    # subqueries anywhere in the matched fragments → decline the rewrite
    # (the reference's matcher fires on simple scans only)
    if _SUBQUERY_RE.search(_mask_quoted(proj)) or (
        where and _SUBQUERY_RE.search(_mask_quoted(where))
    ):
        return _fallback(spark, query, options, observation)

    from pq_vector_spark.index.search import indexed_topk

    try:
        vec = [float(x) for x in m.group("vec").split(",")]
    except ValueError:
        # not a numeric vector literal → still compute the brute-force
        # answer, like every other fall-through branch
        return _fallback(spark, query, options, observation)
    # a table-qualified sort column must name the matched FROM table
    # (db.table accepts either the full name or its last component) —
    # 'ORDER BY other.embedding' must NOT silently use this table's index
    col = m.group("col")
    if "." in col:
        qual, col_name = col.rsplit(".", 1)
        if qual not in (table, table.split(".")[-1]):
            return spark.sql(expand_vector_functions(query))
    else:
        col_name = col
    pre = F.expr(where) if where else None
    out = indexed_topk(
        spark,
        path,
        vec,
        int(m.group("k")),
        column=col_name,
        options=options,
        pre_filter=pre,
        observation=observation,
    )
    if proj != "*":
        # projection fragments may themselves use vector functions / bracket
        # literals — expand to native Catalyst SQL before selectExpr
        out = out.selectExpr(*[expand_vector_functions(p) for p in _split_top_level(proj)])
    return out
