"""Automatic top-k plan interception — the PySpark realization of the
reference's physical-optimizer rule (reference: src/df_vector/physical.rs:20-229,
wired at src/df_vector/session.rs:16-35), and the one route from SQL to
the index: ``plans/sql.py:pq_sql`` is ``spark.sql`` followed by
``try_intercept_topk``.

It matches the *optimized logical plan* of an already-analyzed DataFrame,
so any query that Catalyst normalizes into the canonical shape

  GlobalLimit k
    LocalLimit k
      [Project <output>]
        Sort [<l2-distance>(col, literal-vec) ASC [, attr ASC]] global
          [Project <columns> / Filter <cond>]*
            LogicalRelation parquet <indexed path>

is rerouted to the IVF probe — regardless of how the query was written
(subqueries, CTEs, odd whitespace, DataFrame API with ``F.expr``). PySpark
cannot register Catalyst rules without a JVM extension jar (SURVEY §7/M4),
so the plan is read AFTER Catalyst has normalized it: its shape in one
``optimizedPlan().toJSON()`` round trip, matched in Python, whatever the
query vector's length. The replacement is built from the matched plan's
own resolved pieces: the candidates are its ``LogicalRelation`` (no path
re-read), each Filter applies as a Column over its own condition, and the
Projects are re-applied over the probe's k rows, so every computed column
— the distance included — is the user's own expression.

Every guard the reference's rule applies is applied here (single distance
key, literal query vector, simple scan below the sort —
physical.rs:134-177; Cast-stripping ≙ physical.rs:216-229). Two extensions
beyond the reference: a trailing plain-column ASC key is accepted and
forwarded as the deterministic tie-break, and ``ORDER BY
cosine_similarity(col, vec) DESC`` (the reference is L2-ASC-only) routes to
the IVF cosine path over the same layout. Any mismatch — or any py4j
surprise — declines the rewrite and the caller keeps the original (correct,
brute-force) DataFrame: a fall-through is never an error, exactly like the
reference's rule declining to fire.
"""

from __future__ import annotations

import json
import logging
import math
import os
import re
import threading
from typing import Dict, Optional

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession
from pyspark.sql.classic.column import Column
from pyspark.sql.classic.dataframe import DataFrame

_LOG = logging.getLogger("pq_vector_spark.intercept")

# Decline telemetry (≙ the reference's per-node metrics philosophy,
# exec.rs:302-331): at 100 TB a silent fall-through to brute force is a 20×
# cost surprise, so every decline records WHICH guard fired. Read it back
# with ``last_decline_reason()`` after a try_intercept_topk that returned
# None; it is also logged at INFO on the module logger. The reason is
# THREAD-LOCAL: concurrent sessions/threads interleaving calls each read
# their own thread's most recent outcome, never another's.
_TLS = threading.local()


def _set_decline(reason: Optional[str]) -> None:
    _TLS.reason = reason
    if reason is not None:
        _LOG.info("intercept declined: %s", reason)


def last_decline_reason() -> Optional[str]:
    """Reason the most recent ``try_intercept_topk`` ON THIS THREAD declined
    (None if that call intercepted successfully, or if this thread never
    called it)."""
    return getattr(_TLS, "reason", None)


class _Decline(Exception):
    """Internal control flow: a guard declining the rewrite, with reason."""


def _decline(reason: str):
    raise _Decline(reason)


# tables registered as "indexed": view name -> filesystem path of the layout
_INDEXED_TABLES: Dict[str, str] = {}


def register_indexed_table(spark: SparkSession, name: str, path: str) -> None:
    """Make ``name`` queryable in SQL *and* eligible for interception
    (≙ the reference wiring its rule into the session, session.rs:24-35).
    The view lists the layout's files as they are now; ``append_to_index``
    and ``auto_rebuild_if_stale`` re-register it (``refresh_indexed_tables``)."""
    from pq_vector_spark.index.build import CLUSTER_COL

    spark.read.parquet(path).drop(CLUSTER_COL).createOrReplaceTempView(name)
    _INDEXED_TABLES[name] = path


def refresh_indexed_tables(spark: SparkSession, path: str) -> None:
    """Re-register every view registered over the layout at ``path``, so
    each lists the files a mutation of the layout left behind (a temp
    view keeps the listing it was created with)."""
    key = _normalize_path(path)
    for name, p in list(_INDEXED_TABLES.items()):
        if _normalize_path(p) == key:
            register_indexed_table(spark, name, p)


# PQ codes sidecars keyed by normalized indexed path: when registered, the
# interceptor can route a matching top-k to the doubly-pruned IVF-PQ plan
# (cluster prune × m-byte ADC scan) instead of the raw IVF probe. The dict
# is a session CACHE only — the durable registration lives on disk next to
# the IVF sidecar (``_pq_index/codes.json`` + the saved codebook), matching
# the reference's discovery-from-storage contract (its index is found from
# the Parquet footer KV by ANY later process, src/ivf/parquet.rs:108-148):
# a fresh Spark session pointed at the same layout auto-loads the
# registration on first interception and takes the IVF-PQ route without
# anyone re-calling ``register_codes_sidecar``.
_CODES_SIDECARS: Dict[str, tuple] = {}

# layouts known to have NO persisted registration (path -> monotonic
# probe time): without this, every interception attempt against an
# unregistered layout re-pays the disk probe — one FileSystem.exists call
# per query, an RPC against S3/HDFS.
# Invalidated by register/unregister; entries also EXPIRE after
# _MISS_REPROBE_SEC so a registration persisted by ANOTHER process
# (discovery-from-storage is a cross-process contract) becomes visible to
# a long-lived session within minutes instead of never.
_CODES_SIDECAR_MISSES: dict = {}
_MISS_REPROBE_SEC = 300.0

# filenames under <indexed_path>/_pq_index/
CODES_REG_FILE = "codes.json"
CODES_CODEBOOK_FILE = "pq_codebook.npz"


def register_codes_sidecar(
    indexed_path: str,
    codes_path: str,
    codebook,
    id_col: str = "vec_id",
    spark=None,
    persist: bool = True,
) -> None:
    """Register a PQ codes sidecar (``encode_indexed`` output) for an
    indexed layout so automatic interception prefers the IVF-PQ plan —
    the engine picks the cheapest plan rather than requiring the user to
    call ``ivfpq_topk`` by hand (≙ the reference's single physical rule
    being its SQL users' only entry point, src/df_vector/physical.rs:20-229).

    The CODES TABLE's row count is measured and recorded (one ids-only
    count job — registration is rare): ``append_to_index`` grows the raw
    layout but not the codes, and a partial codes scan would silently
    EXCLUDE rows from every result — so the route declines (raw IVF probe,
    correct just less pruned) whenever the codes no longer cover the live
    index row count. Measuring the CODES side (not an index snapshot)
    also catches registering codes that are ALREADY stale, and an append
    racing a ``refresh_codes_sidecar``. Registration fails loudly on an
    unreadable codes table — a broken registration must never silently
    disable the guard.

    ``persist=True`` (default) also writes the registration into the
    layout's own ``_pq_index/`` (``codes.json`` + the serialized codebook)
    so it survives process restarts — the reference's
    discovery-from-storage contract (src/ivf/parquet.rs:108-148): a brand
    new session given only the on-disk layout finds the route. A
    persistence failure raises AFTER the in-memory registration succeeded
    (the current session keeps the route either way).
    """
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise ValueError(
            "register_codes_sidecar requires an active SparkSession "
            "(or pass spark=) to measure the codes table's coverage"
        )
    codes_rows = spark.read.parquet(codes_path).count()
    _CODES_SIDECAR_MISSES.pop(_normalize_path(indexed_path), None)
    _CODES_SIDECARS[_normalize_path(indexed_path)] = (
        codes_path,
        codebook,
        id_col,
        int(codes_rows),
    )
    if persist:
        _persist_codes_registration(
            spark, indexed_path, codes_path, codebook, id_col, int(codes_rows)
        )


def _persist_codes_registration(
    spark, indexed_path: str, codes_path: str, codebook, id_col: str, codes_rows: int
) -> None:
    """Write the codes registration into ``<indexed>/_pq_index/``: the
    codebook as npz bytes plus a ``codes.json`` naming the codes table
    (as a fully qualified path, so a later process resolves it the same
    way), id column, and the coverage row count the staleness guard
    compares. Driver-side, zero Spark jobs, through the same Hadoop
    FileSystem helpers as the IVF sidecar writer
    (index/build.py:_write_sidecar)."""
    import io
    import json

    import numpy as np

    from pq_vector_spark.index.build import (
        INDEX_DIR,
        _hadoop_write_bytes,
        _jfs,
        _write_text,
    )

    buf = io.BytesIO()
    # Mirror PQCodebook.save exactly (index/pq.py:80-84): the optional OPQ
    # rotation MUST round-trip — a stripped rotation would make restarted
    # sessions compute an unrotated LUT against rotated codes (garbage ADC
    # shortlists) and auto_rebuild would re-encode with the stripped
    # codebook, baking the mismatch into the layout.
    extras = {}
    if codebook.rotation is not None:
        extras["rotation"] = codebook.rotation
    np.savez(buf, codebooks=codebook.codebooks, dim=np.int64(codebook.dim), **extras)
    jpath, fs = _jfs(spark, codes_path)
    reg = {
        "format": "pq_vector_spark/pq-codes-v1",
        "codes_path": fs.makeQualified(jpath).toString(),
        "id_col": id_col,
        "codes_rows": int(codes_rows),
        "codebook_file": CODES_CODEBOOK_FILE,
    }
    base = f"{indexed_path.rstrip('/')}/{INDEX_DIR}"
    _hadoop_write_bytes(spark, f"{base}/{CODES_CODEBOOK_FILE}", buf.getvalue())
    _write_text(spark, f"{base}/{CODES_REG_FILE}", json.dumps(reg) + "\n")


def _load_codes_registration(spark, indexed_path: str):
    """Recover a persisted codes registration from the layout's
    ``_pq_index/`` — the restart half of the discovery-from-storage
    contract. Returns ``(found, sidecar)``: ``found`` is whether a
    registration FILE exists on disk (so the caller can cache a definitive
    miss), ``sidecar`` the ``(codes_path, codebook, id_col, codes_rows)``
    tuple or None. An unreadable registration is LOGGED and returned as
    ``(True, None)`` so interception degrades to the raw IVF probe, never
    to an error (the registration is an optimization hint, not data)."""
    import io
    import json

    import numpy as np

    from pq_vector_spark.index.build import (
        INDEX_DIR,
        _hadoop_exists,
        _hadoop_read_bytes,
        _read_text,
    )
    from pq_vector_spark.index.pq import PQCodebook

    try:
        base = f"{indexed_path.rstrip('/')}/{INDEX_DIR}"
        if not _hadoop_exists(spark, f"{base}/{CODES_REG_FILE}"):
            return False, None
        reg = json.loads(_read_text(spark, f"{base}/{CODES_REG_FILE}").strip())
        raw = _hadoop_read_bytes(
            spark, f"{base}/{reg.get('codebook_file', CODES_CODEBOOK_FILE)}"
        )
        z = np.load(io.BytesIO(raw))
        codebook = PQCodebook(
            codebooks=z["codebooks"],
            dim=int(z["dim"]),
            rotation=z["rotation"] if "rotation" in z.files else None,
        )
        return True, (
            reg["codes_path"], codebook, reg["id_col"], int(reg["codes_rows"])
        )
    except Exception as e:
        _LOG.warning(
            "unreadable persisted codes registration under %s/%s (%s: %s) — "
            "interception falls back to the raw IVF probe; re-run "
            "register_codes_sidecar to repair",
            indexed_path,
            "_pq_index",
            type(e).__name__,
            e,
        )
        return True, None


def _lookup_codes_sidecar(spark, indexed_path: str, *, force_probe: bool = False):
    """Session-cache lookup with disk fallback: the in-memory dict first,
    else the persisted ``_pq_index/codes.json``. BOTH outcomes are cached
    — a hit so the disk read happens once per layout per session, and a
    MISS so a layout with no registration doesn't pay one FileSystem RPC
    per query forever. register/unregister invalidate the miss cache, and
    misses expire after ``_MISS_REPROBE_SEC`` so a registration persisted
    by another process is eventually discovered; an UNREADABLE
    registration is deliberately NOT miss-cached, so a repair by an
    outside writer is picked up on the next query.

    ``force_probe=True`` bypasses the miss cache (never the hit cache) and
    goes to disk: required by any DESTRUCTIVE consumer — the rebuild in
    ``index/build.auto_rebuild_if_stale`` resolves the registration before
    its directory swap deletes the old layout, and a <TTL-old cached miss
    there would silently destroy a registration another process persisted
    in the meantime. Query-path interception keeps the cached miss (losing
    at most ``_MISS_REPROBE_SEC`` of a foreign registration's speedup,
    never data)."""
    import time as _time

    key = _normalize_path(indexed_path)
    sidecar = _CODES_SIDECARS.get(key)
    if sidecar is None:
        miss_at = None if force_probe else _CODES_SIDECAR_MISSES.get(key)
        if miss_at is None or _time.monotonic() - miss_at >= _MISS_REPROBE_SEC:
            found, sidecar = _load_codes_registration(spark, indexed_path)
            if sidecar is not None:
                _CODES_SIDECARS[key] = sidecar
                _CODES_SIDECAR_MISSES.pop(key, None)
            elif not found:
                _CODES_SIDECAR_MISSES[key] = _time.monotonic()
    return sidecar


def refresh_codes_sidecar(spark, indexed_path: str) -> None:
    """Bring a registered codes sidecar back in sync after
    ``append_to_index`` grew the raw layout: encodes ONLY the missing rows
    (``encode_indexed(mode="append_missing")`` — the standing codes are
    never rewritten) and re-registers so the route's staleness guard
    records the new row count. The nightly-append companion to the guard
    that declines stale codes."""
    sidecar = _lookup_codes_sidecar(spark, indexed_path)
    if sidecar is None:
        raise ValueError(f"no codes sidecar registered for {indexed_path}")
    codes_path, codebook, id_col, _ = sidecar
    from pq_vector_spark.index.pq import encode_indexed
    from pq_vector_spark.index.search import load_index

    column = load_index(spark, indexed_path).meta["column"]
    encode_indexed(
        spark, indexed_path, codes_path, column, id_col, codebook,
        mode="append_missing",
    )
    register_codes_sidecar(indexed_path, codes_path, codebook, id_col, spark=spark)


def unregister_codes_sidecar(indexed_path: str, spark=None) -> None:
    """Forget a registered codes sidecar (e.g. after the codes table is
    dropped or superseded by a rebuild); interception for the layout falls
    back to the raw IVF probe. Removes BOTH the session cache entry and
    the persisted ``_pq_index/codes.json`` registration — otherwise the
    disk copy would silently resurrect the route on the next interception.
    Deleting the registration needs a session, on local paths too (pass
    ``spark=`` or have one active); without one, only the in-memory entry
    is dropped and a warning is logged — and the negative-lookup cache is
    NOT seeded (the registration is still on disk, so query-path lookups
    must stay free to rediscover it; seeding a miss here would hide it for
    the whole TTL, contradicting this docstring)."""
    import time as _time

    from pyspark.sql import SparkSession

    from pq_vector_spark.index.build import INDEX_DIR, _hadoop_delete

    key = _normalize_path(indexed_path)
    _CODES_SIDECARS.pop(key, None)
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        # persisted copy NOT deleted — drop any stale miss entry so the
        # still-on-disk registration stays discoverable
        _CODES_SIDECAR_MISSES.pop(key, None)
        _LOG.warning(
            "unregister_codes_sidecar(%s): no active SparkSession — the "
            "persisted registration was NOT deleted and will be auto-loaded "
            "by a later session; re-run with spark= to remove it",
            indexed_path,
        )
        return
    base = f"{indexed_path.rstrip('/')}/{INDEX_DIR}"
    for fname in (CODES_REG_FILE, CODES_CODEBOOK_FILE):
        _hadoop_delete(spark, f"{base}/{fname}", recursive=False)
    # deletion confirmed: a miss entry is now TRUE, seed it so the query
    # path doesn't pay a probe per query for the gone route
    _CODES_SIDECAR_MISSES[key] = _time.monotonic()


def _tree(flat: list) -> dict:
    """Nest one flattened pre-order node list of ``TreeNode.toJSON`` into
    its node dicts, each child list under ``"_ch"``. Children are read by
    position only: the JSON numbers equal children by their first index
    (both sides of ``(x - y) * (x - y)`` read ``0``)."""
    it = iter(flat)

    def build():
        node = next(it)
        node["_ch"] = [build() for _ in range(node["num-children"])]
        return node

    return build()


def _cls(node) -> str:
    return node["class"].rsplit(".", 1)[-1]


def _eid(node) -> int:
    return node["exprId"]["id"]


def _strip_cast(e):
    # ≙ the reference stripping Cast/TryCast around the distance call
    # (physical.rs:216-229); Catalyst inserts Cast when the stored column is
    # array<float> and the literal folded to array<double>.
    while _cls(e) in ("Cast", "AnsiCast", "TryCast"):
        e = e["_ch"][0]
    return e


def _lambda_parts(lf):
    """LambdaFunction children are (function, arg0, arg1, ...)."""
    return lf["_ch"][0], lf["_ch"][1:]


def _is_var(e, eid: int) -> bool:
    return _cls(e) == "NamedLambdaVariable" and _eid(e) == eid


def _is_double(e, test) -> bool:
    """``e`` is a double Literal whose value passes ``test``."""
    return (
        _cls(e) == "Literal"
        and e.get("dataType") == "double"
        and e.get("value") is not None
        and test(float(e["value"]))
    )


def _is_sub(e, a_id: int, b_id: int) -> bool:
    """e == Subtract(var a, var b) with exactly those lambda variables."""
    return (
        _cls(e) == "Subtract"
        and _is_var(e["_ch"][0], a_id)
        and _is_var(e["_ch"][1], b_id)
    )


def _is_binary_of_args(fn, op: str, args) -> bool:
    """fn == op(var, var) over exactly the lambda's two arguments."""
    if _cls(fn) != op or len(args) != 2:
        return False
    l, r = fn["_ch"]
    return (
        _cls(l) == "NamedLambdaVariable"
        and _cls(r) == "NamedLambdaVariable"
        and {_eid(l), _eid(r)} == {_eid(args[0]), _eid(args[1])}
    )


def _is_zero_plus_identity(zero, merge, finish) -> bool:
    """zero == 0.0, merge == (acc, x) -> acc + x, finish == identity — the
    shared tail of every fold our expansions emit."""
    if not _is_double(zero, lambda v: v == 0.0):
        return False
    mfn, margs = _lambda_parts(merge)
    if not _is_binary_of_args(mfn, "Add", margs):
        return False
    ffn, fargs = _lambda_parts(finish)
    return len(fargs) == 1 and _is_var(ffn, _eid(fargs[0]))


def query_vector(lit) -> Optional[list]:
    """The doubles of an ``array<double>`` Literal node, parsed from its JSON
    ``value`` (``[x,y,...]``, each element Java's ``Double.toString``, which
    parses back to the same double, NaN and ±Infinity included); None when
    the literal is of another type or holds a NULL."""
    dt = lit.get("dataType")
    if not isinstance(dt, dict) or dt.get("elementType") != "double":
        return None
    body = (lit.get("value") or "")[1:-1]
    try:
        return [float(x) for x in body.split(",")] if body else []
    except ValueError:
        return None


def _attr_lit_sides(left, right):
    """(attr, literal, vector) when one side is the stored column and the
    other the (constant-folded) query-vector literal, else None."""
    left, right = _strip_cast(left), _strip_cast(right)
    if _cls(left) == "AttributeReference" and _cls(right) == "Literal":
        attr, lit = left, right
    elif _cls(right) == "AttributeReference" and _cls(left) == "Literal":
        attr, lit = right, left
    else:
        return None
    vec = query_vector(lit)
    return None if vec is None else (attr, lit, vec)


def _match_fold(e, pair_op):
    """ArrayAggregate(ZipWith(a, b, pair_op), 0.0, +, id) → (ZipWith node,
    lambda function node, lambda args), or None."""
    e = _strip_cast(e)
    if _cls(e) != "ArrayAggregate" or len(e["_ch"]) != 4:
        return None
    zw, zero, merge, finish = e["_ch"]
    if _cls(zw) != "ZipWith" or not _is_zero_plus_identity(zero, merge, finish):
        return None
    fn, args = _lambda_parts(zw["_ch"][2])
    if _cls(fn) != pair_op or len(args) != 2:
        return None
    return zw, fn, args


def _match_dot(e):
    """ArrayAggregate(ZipWith(a, b, (x,y)->x*y), 0.0, +, id) → (attr,
    literal, vector), or None."""
    m = _match_fold(e, "Multiply")
    if m is None or not _is_binary_of_args(m[1], "Multiply", m[2]):
        return None
    return _attr_lit_sides(m[0]["_ch"][0], m[0]["_ch"][1])


def _match_norm(e):
    """Sqrt(ArrayAggregate(ArrayTransform(base, v -> v*v), 0.0, +, id)) →
    the (cast-stripped) base node, or None."""
    e = _strip_cast(e)
    if _cls(e) != "Sqrt":
        return None
    agg = _strip_cast(e["_ch"][0])
    if _cls(agg) != "ArrayAggregate" or len(agg["_ch"]) != 4:
        return None
    tfm, zero, merge, finish = agg["_ch"]
    if _cls(tfm) != "ArrayTransform" or not _is_zero_plus_identity(zero, merge, finish):
        return None
    base, lam = tfm["_ch"]
    f, args = _lambda_parts(lam)
    if _cls(f) != "Multiply" or len(args) != 1:
        return None
    if not all(_is_var(x, _eid(args[0])) for x in f["_ch"]):
        return None
    return _strip_cast(base)


def _match_l2_sort_expr(expr):
    """Match the canonical L2 expression our SQL expansion / registration
    produces (functions/distance.py:SQL_TEMPLATES):

      [Sqrt] ArrayAggregate(ZipWith(col, lit, (x,y)->(x-y)*(x-y)),
                            0.0, (acc,x)->acc+x, id->id)

    Returns (column_attr, [floats], has_sqrt) or None. The Sqrt is
    optional so ``ORDER BY squared_l2(...)`` (same ordering) intercepts
    too; ``has_sqrt`` tells whether the expression's VALUE is the true
    distance.
    """
    e = _strip_cast(expr)
    has_sqrt = _cls(e) == "Sqrt"
    if has_sqrt:
        e = e["_ch"][0]
    m = _match_fold(e, "Multiply")
    if m is None:
        return None
    zw, fn, args = m
    # (x, y) -> (x - y) * (x - y)   [exprId-checked, so (x-y)*(y-x) declines]
    a_id, b_id = _eid(args[0]), _eid(args[1])
    m_l, m_r = fn["_ch"]
    ok_xy = _is_sub(m_l, a_id, b_id) and _is_sub(m_r, a_id, b_id)
    ok_yx = _is_sub(m_l, b_id, a_id) and _is_sub(m_r, b_id, a_id)
    if not (ok_xy or ok_yx):
        return None
    sides = _attr_lit_sides(zw["_ch"][0], zw["_ch"][1])
    return None if sides is None else (sides[0], sides[2], has_sqrt)


def _match_cosine_sort_expr(expr):
    """Match the single-eval cosine expansion
    (functions/distance.py:SQL_TEMPLATES):

      transform(array(norm(col) * norm(lit)),
                d -> CASE WHEN d = 0 THEN NaN ELSE dot(col, lit) / d END)[0]

    — i.e. GetArrayItem(ArrayTransform(CreateArray([Multiply(norm, norm)]),
    λ CaseWhen), 0). The dot's (attr, lit) must match the two norm bases.
    Returns (column_attr, [floats]) or None.
    """
    e = _strip_cast(expr)
    if _cls(e) != "GetArrayItem":
        return None
    tfm, idx_lit = e["_ch"]
    if _cls(idx_lit) != "Literal" or idx_lit.get("value") != "0":
        return None
    tfm = _strip_cast(tfm)
    if _cls(tfm) != "ArrayTransform":
        return None
    arr, lam = tfm["_ch"]
    if _cls(arr) != "CreateArray" or len(arr["_ch"]) != 1:
        return None
    denom = _strip_cast(arr["_ch"][0])
    if _cls(denom) != "Multiply":
        return None
    bases = [_match_norm(x) for x in denom["_ch"]]
    if None in bases:
        return None
    fn, args = _lambda_parts(lam)
    # CaseWhen children: (cond, value, elseValue) for the single branch
    if len(args) != 1 or _cls(fn) != "CaseWhen" or len(fn["_ch"]) != 3:
        return None
    cond, val, els = fn["_ch"]
    d_id = _eid(args[0])
    if _cls(cond) != "EqualTo":
        return None
    c_l, c_r = cond["_ch"]
    is_zero = lambda v: v == 0.0  # noqa: E731
    if not (
        (_is_var(c_l, d_id) and _is_double(c_r, is_zero))
        or (_is_var(c_r, d_id) and _is_double(c_l, is_zero))
    ):
        return None
    if not _is_double(val, math.isnan) or _cls(els) != "Divide":
        return None
    dot, dvar = els["_ch"]
    if not _is_var(dvar, d_id):
        return None
    sides = _match_dot(dot)
    if sides is None:
        return None
    attr, lit, vec = sides
    # the dot's column/vector must be the same as the norms' bases
    attrs = [b for b in bases if _cls(b) == "AttributeReference"]
    lits = [b for b in bases if _cls(b) == "Literal"]
    if len(attrs) != 1 or len(lits) != 1 or _eid(attrs[0]) != _eid(attr):
        return None
    if (lits[0]["value"], lits[0]["dataType"]) != (lit["value"], lit["dataType"]):
        return None
    return attr, vec


def _normalize_path(p: str) -> str:
    if p.startswith("file:"):
        p = re.sub(r"^file:(//)?", "", p)
    return os.path.abspath(p.rstrip("/"))


def _walk(node):
    yield node
    for c in node["_ch"]:
        yield from _walk(c)


def _reads_only(expr, eids) -> bool:
    """Every column ``expr`` reads is one of ``eids``, and it runs no
    subquery (a subquery expression carries its own ``plan``)."""
    return all(
        "plan" not in n
        and (_cls(n) != "AttributeReference" or _eid(n) in eids)
        for n in _walk(expr)
    )


_JVM_REFS: dict = {}


def _jvm_ref(spark, dotted: str):
    """A JVM class or static method by its dotted name, cached: py4j
    resolves every segment of ``spark._jvm.a.b.C.m`` with a round trip of
    its own."""
    key = (spark._jvm, dotted)
    if key not in _JVM_REFS:
        ref = spark._jvm
        for part in dotted.split("."):
            ref = getattr(ref, part)
        _JVM_REFS[key] = ref
    return _JVM_REFS[key]


def _try_pq_route(
    spark, path, column, vec, k, tie_break, options, observation, avail, out_cols,
    dist_alias=None,
):
    """Attempt the IVF-PQ interception route for an L2, unfiltered top-k
    over ``path`` whose output columns ``out_cols`` are plain columns of
    the relation (``avail``, without the cluster column) or the projected
    distance ``dist_alias``. Returns ``(out_df, obs_consumed)``:

    - ``(DataFrame, _)`` — route succeeded;
    - ``(None, False)`` — route not applicable or failed before the
      Observation was attached (caller falls back to the IVF probe with the
      observation intact);
    - ``(None, True)`` — route failed AFTER the single-use Observation was
      bound to the abandoned plan (caller must fall back WITHOUT it).

    Route validation happens before the observation can be attached: the
    output-column pre-check rejects queries projecting columns the PQ plan
    drops (e.g. the cluster column) instead of failing post-attach.
    """
    sidecar = _lookup_codes_sidecar(spark, path)
    if sidecar is None:
        return None, False
    codes_path, codebook, id_col, codes_rows = sidecar
    if tie_break is not None and tie_break != id_col:
        return None, False
    try:
        from pq_vector_spark.index.build import CLUSTER_COL
        from pq_vector_spark.index.pq import ivfpq_topk
        from pq_vector_spark.index.search import load_index

        # ivfpq_topk's output is the raw layout minus the cluster column —
        # plus, when the query projects the distance itself, the re-rank
        # stage's exact distance column (renamed below)
        if dist_alias is not None:
            avail = avail | {dist_alias}
        if not set(out_cols) <= avail:
            _LOG.info(
                "ivfpq route skipped: projection needs columns the codes "
                "route drops (%s)", sorted(set(out_cols) - avail)
            )
            return None, False
        # codes-table shape pre-check (schema-only): every post-attach
        # failure path we can foresee is rejected BEFORE the single-use
        # observation could bind to a plan that will never run (an
        # abandoned observation makes a later observation.get block
        # forever — there is no detach API)
        from pq_vector_spark.index.pq import CODES_COL

        codes_cols = set(spark.read.parquet(codes_path).columns)
        need = {id_col, CLUSTER_COL, CODES_COL}
        if not need <= codes_cols:
            _LOG.info(
                "ivfpq route skipped: codes table lacks columns %s",
                sorted(need - codes_cols),
            )
            return None, False
        idx = load_index(spark, path)
        if int(idx.meta["row_count"]) != codes_rows:
            # the codes table does not cover the live layout (an append
            # since encoding, or codes that were stale at registration);
            # a partial codes scan would silently EXCLUDE rows from
            # results — never trade correctness for pruning. Re-encode +
            # re-register (refresh_codes_sidecar) to restore the route.
            _LOG.info(
                "ivfpq route skipped: index row_count %s != codes rows %s "
                "(codes sidecar is stale — refresh_codes_sidecar after appends)",
                idx.meta["row_count"],
                codes_rows,
            )
            return None, False
        nprobe = options.nprobe if options else 5
        rerank = getattr(options, "rerank", 4) if options else 4
        if nprobe >= int(idx.meta["n_clusters"]):
            # Exactness envelope is STRUCTURAL (SURVEY §2.C.5): probing
            # every cluster promises brute-force-equal results, so the ADC
            # heap must cover the entire candidate set — bump rerank to
            # ceil(rows/k). Never trade exactness without being asked
            # (≙ the reference rule, src/df_vector/physical.rs:161-168).
            rows = int(idx.meta["row_count"])
            rerank = max(rerank, -(-rows // max(k, 1)))
        out = ivfpq_topk(
            spark,
            path,
            codes_path,
            column,
            id_col,
            codebook,
            vec,
            k,
            nprobe=nprobe,
            rerank=rerank,
            observation=observation,
            keep_distance=dist_alias is not None,
        )
        if dist_alias is not None:
            from pq_vector_spark.operators.topk import DISTANCE_COL

            if dist_alias != DISTANCE_COL:
                out = out.withColumnRenamed(DISTANCE_COL, dist_alias)
        return out.select(*out_cols), False
    except Exception as e:
        consumed = (
            observation is not None and getattr(observation, "_jo", None) is not None
        )
        _LOG.info(
            "ivfpq route failed (%s: %s); falling back to IVF probe%s",
            type(e).__name__,
            e,
            " without the consumed observation" if consumed else "",
        )
        return None, consumed


def try_intercept_topk(
    spark: SparkSession,
    df: DataFrame,
    options=None,
    observation=None,
) -> Optional[DataFrame]:
    """Inspect ``df``'s optimized logical plan; if it is the canonical
    top-k-by-distance shape over a registered indexed table, return the
    equivalent IVF-probe DataFrame (same output columns), else None.

    Never raises: any unexpected plan/py4j shape declines (returns None)
    and records the guard that fired in ``last_decline_reason()``.
    """
    if not _INDEXED_TABLES:
        _set_decline("no-indexed-tables: register_indexed_table was never called")
        return None
    try:
        out = _try_intercept(spark, df, options, observation)
        _set_decline(None)
        return out
    except _Decline as d:
        _set_decline(str(d))
        return None
    except Exception as e:  # py4j surprises etc. — never propagate
        _set_decline(f"unexpected-{type(e).__name__}: {e}")
        return None


def _try_intercept(spark, df, options, observation):
    from pq_vector_spark.index.build import CLUSTER_COL

    jplan = df._jdf.queryExecution().optimizedPlan()
    # the whole plan in one round trip: its pre-order node list. Above the
    # scan only unary nodes without subqueries are accepted, so list index
    # i is also the pre-order number ``jplan.p(i)`` fetches node i by.
    nodes = json.loads(jplan.toJSON())
    if _cls(nodes[0]) != "GlobalLimit":
        _decline(f"root-not-global-limit: plan root is {_cls(nodes[0])}, not GlobalLimit")
    k_lit = _tree(nodes[0]["limitExpr"])
    if _cls(k_lit) != "Literal":
        _decline("limit-not-literal: LIMIT is not a constant")
    k = int(k_lit["value"])
    if _cls(nodes[1]) != "LocalLimit":
        _decline(f"no-local-limit: under GlobalLimit is {_cls(nodes[1])}")
    i = 2
    top = None  # the Project above the Sort: the query's output
    if _cls(nodes[i]) == "Project":
        top, i = i, i + 1
    sort = nodes[i]
    if _cls(sort) != "Sort" or not sort["global"]:
        _decline(f"no-global-sort: under limit is {_cls(sort)} (need global Sort)")
    order = [_tree(o) for o in sort["order"]]
    if len(order) not in (1, 2):
        _decline(f"order-keys: {len(order)} sort keys (need 1-2)")

    # below the Sort: projections and filters down to one relation scan
    pre = None  # the first Project under the Sort
    filters = []
    i += 1
    while _cls(nodes[i]) in ("Project", "Filter"):
        if _cls(nodes[i]) == "Filter":
            filters.append(i)
        elif pre is None:
            pre = i
        i += 1
    if _cls(nodes[i]) != "LogicalRelation":
        _decline(f"scan-shape: below Sort is {_cls(nodes[i])}, not a simple relation scan")
    rel_out = [_tree(a) for a in nodes[i]["output"]]
    rel_cols = {_eid(a): a["name"] for a in rel_out}
    if not all(_reads_only(_tree(nodes[f]["condition"]), rel_cols) for f in filters):
        _decline(
            "filter-reference: a filter below the Sort reads something other "
            "than the scanned relation's columns"
        )
    pre_list = [_tree(e) for e in nodes[pre]["projectList"]] if pre is not None else []
    if not all(_reads_only(e, rel_cols) for e in pre_list):
        _decline(
            "projection-reference: the projection below the Sort reads "
            "something other than the scanned relation's columns"
        )
    top_list = [_tree(e) for e in nodes[top]["projectList"]] if top is not None else []
    if any("plan" in n for e in top_list for n in _walk(e)):
        # a subquery's plan also takes pre-order numbers: jplan.p(i) below
        # would not fetch node i
        _decline("projection-reference: the output projection runs a subquery")
    computed = [e for e in pre_list + top_list if _cls(e) != "AttributeReference"]
    # the projections re-applied over the probe's rows, innermost first:
    # the one under the Sort when it computes anything or is the output,
    # then the output one
    applied = []
    if pre is not None and (top is None or any(e in computed for e in pre_list)):
        applied.append((pre, pre_list))
    if top is not None:
        applied.append((top, top_list))
    out_list = applied[-1][1] if applied else rel_out
    read = [n for _, lst in applied for e in lst for n in _walk(e)] if applied else rel_out
    cluster = {e for e, name in rel_cols.items() if name == CLUSTER_COL}
    if any(_cls(n) == "AttributeReference" and _eid(n) in cluster for n in read):
        _decline(f"cluster-column: the query reads {CLUSTER_COL}, which the probe drops")

    so = order[0]
    key = _strip_cast(so["_ch"][0])
    # the sort key may be the kernel expression inline, or a bare attribute
    # whose defining Alias is in the Project under the Sort
    # (``SELECT id, array_distance(v, q) AS d … ORDER BY d``)
    alias = None
    if _cls(key) == "AttributeReference":
        alias = next(
            (e for e in pre_list if _cls(e) == "Alias" and _eid(e) == _eid(key)), None
        )
    target = key if alias is None else alias["_ch"][0]
    if so["direction"]["object"].endswith("Ascending$"):
        # L2 distance, ascending — the reference's one shape
        # (ASC-only guard ≙ physical.rs:143-145)
        metric = "l2"
        matched = _match_l2_sort_expr(target)
        if matched is None:
            _decline(
                "sort-expr-not-l2: ASC sort key is not the canonical "
                "l2/squared-l2(column, literal-vector) expression"
            )
        attr, vec, true_distance = matched
    else:
        # cosine similarity, DESCENDING — our extension metric over the
        # same layout (probes L2 centroids like the batch kernel)
        metric = "cosine"
        matched = _match_cosine_sort_expr(target)
        if matched is None:
            _decline(
                "sort-expr-not-cosine: DESC sort key is not the canonical "
                "cosine_similarity(column, literal-vector) expression"
            )
        (attr, vec), true_distance = matched, False
    if _eid(attr) not in rel_cols:
        _decline("sort-column: the distance is not over a column of the scanned relation")
    tie_break = None
    if len(order) == 2:
        so2 = order[1]
        t = _strip_cast(so2["_ch"][0])
        if (
            not so2["direction"]["object"].endswith("Ascending$")
            or _cls(t) != "AttributeReference"
            or _eid(t) not in rel_cols
        ):
            _decline(
                "tie-break-shape: second sort key must be a plain column of "
                "the scanned relation, ASC"
            )
        tie_break = t["name"]

    jrel = jplan.p(i)
    try:
        roots = jrel.relation().location().rootPaths().mkString("\n").split("\n")
    except Py4JError:
        _decline("relation-kind: the scanned relation is not file-based")
    if len(roots) != 1:
        _decline(f"multi-root-scan: {len(roots)} root paths (need exactly 1)")
    scan_path = _normalize_path(roots[0])
    path = next(
        (p for p in _INDEXED_TABLES.values() if _normalize_path(p) == scan_path),
        None,
    )
    if path is None:
        _decline(f"path-not-indexed: {scan_path} is not a registered indexed table")
    if (filters or computed) and not jplan.deterministic():
        _decline("nondeterministic: the plan computes a nondeterministic expression")

    # Prefer the doubly-pruned IVF-PQ plan (cluster prune × m-byte ADC
    # codes scan × exact re-rank) when a codes sidecar is registered for
    # this layout and the shape allows it: L2 metric (ADC tables are
    # squared-L2), no filter (the codes table carries only id+cluster+
    # codes, so a payload filter can't push into stage one), no computed
    # column but the true distance the sort is on, and the tie-break — if
    # any — matching the sidecar's id column (ivfpq_topk breaks ties on it
    # unconditionally). Any failure inside the PQ route falls back to the
    # raw IVF probe below, never to brute force.
    if metric == "l2" and not filters and all(e is alias for e in computed):
        pq_out, obs_consumed = _try_pq_route(
            spark, path, attr["name"], vec, k, tie_break, options, observation,
            set(rel_cols.values()) - {CLUSTER_COL},
            [e["name"] for e in out_list],
            dist_alias=alias["name"] if alias is not None and true_distance else None,
        )
        if pq_out is not None:
            return pq_out
        if obs_consumed:
            # the single-use Observation is already bound to the failed PQ
            # plan; the IVF fallback must run without it (re-attaching would
            # raise REUSE_OBSERVATION and turn a route fallback into a full
            # decline to brute force)
            observation = None

    from pq_vector_spark.index.search import open_index, probe_topk

    idx, q = open_index(spark, path, vec, attr["name"])
    # the candidates are the matched plan's own relation; its filters and
    # projections apply as the resolved expressions they are (no path
    # re-read, no SQL re-render)
    session = spark._jsparkSession
    of_rows = _jvm_ref(spark, "org.apache.spark.sql.classic.Dataset.ofRows")
    to_column = _jvm_ref(spark, "org.apache.spark.sql.classic.ExpressionUtils.column")
    pre_filter = None
    for f in filters:
        cond = Column(to_column(jplan.p(f).condition()))
        pre_filter = cond if pre_filter is None else (pre_filter & cond)
    out = probe_topk(
        DataFrame(of_rows(session, jrel), spark),
        idx,
        q,
        k,
        options=options,
        pre_filter=pre_filter,
        tie_break=tie_break,
        observation=observation,
        metric=metric,
    )
    # the query's own projections, recomputed over the k rows: its
    # distance and other computed columns are the user's expressions
    project = _jvm_ref(spark, "org.apache.spark.sql.catalyst.plans.logical.Project")
    for p, _ in applied:
        plan = project(jplan.p(p).projectList(), out._jdf.logicalPlan())
        out = DataFrame(of_rows(session, plan), spark)
    return out
