"""Automatic top-k plan interception — the PySpark realization of the
reference's physical-optimizer rule (reference: src/df_vector/physical.rs:20-229,
wired at src/df_vector/session.rs:16-35).

Where ``plans/sql.py`` pattern-matches the SQL *text*, this module matches
the *optimized logical plan* of an already-analyzed DataFrame, so any query
that Catalyst normalizes into the canonical shape

  GlobalLimit k
    LocalLimit k
      [Project <attrs>]
        Sort [<l2-distance>(col, literal-vec) ASC [, attr ASC]] global
          [Project <attrs> / Filter <cond>]*
            LogicalRelation parquet <indexed path>

is rerouted to the IVF probe (``indexed_topk``) — regardless of how the SQL
was written (subqueries, CTEs, odd whitespace, DataFrame API with
``F.expr``). This is the honest in-Python equivalent of injecting a physical
rule: PySpark cannot register Catalyst rules without a JVM extension jar
(SURVEY §7/M4), so we inspect ``queryExecution().optimizedPlan()`` through
py4j AFTER Catalyst has done its normalization work and swap the DataFrame
wholesale.

Every guard the reference's rule applies is applied here (single distance
key, literal query vector, simple scan below the sort —
physical.rs:134-177; Cast-stripping ≙ physical.rs:216-229). Two extensions
beyond the reference: a trailing plain-attribute ASC key is accepted and
forwarded as the deterministic tie-break, and ``ORDER BY
cosine_similarity(col, vec) DESC`` (the reference is L2-ASC-only) routes to
the IVF cosine path over the same layout. Any mismatch — or any py4j
surprise — declines the rewrite and the caller keeps the original (correct,
brute-force) DataFrame: a fall-through is never an error, exactly like the
reference's rule declining to fire.
"""

from __future__ import annotations

import logging
import os
import re
import threading
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def _cls(jnode) -> str:
    return jnode.getClass().getSimpleName()


def _strip_cast(e):
    # ≙ the reference stripping Cast/TryCast around the distance call
    # (physical.rs:216-229); Catalyst inserts Cast when the stored column is
    # array<float> and the literal folded to array<double>.
    while _cls(e) in ("Cast", "AnsiCast", "TryCast"):
        e = e.children().apply(0)
    return e


def _lambda_parts(lf):
    """LambdaFunction children are (function, arg0, arg1, ...)."""
    ch = lf.children()
    return ch.apply(0), [ch.apply(i) for i in range(1, ch.size())]


def _eid(v) -> int:
    return v.exprId().id()


def _is_sub(e, a_id: int, b_id: int) -> bool:
    """e == Subtract(var a, var b) with exactly those lambda variables."""
    if _cls(e) != "Subtract":
        return False
    l, r = e.children().apply(0), e.children().apply(1)
    return (
        _cls(l) == "NamedLambdaVariable"
        and _cls(r) == "NamedLambdaVariable"
        and _eid(l) == a_id
        and _eid(r) == b_id
    )


def _is_zero_plus_identity(zero, merge, finish) -> bool:
    """zero == 0.0, merge == (acc, x) -> acc + x, finish == identity — the
    shared tail of every fold our expansions emit."""
    if _cls(zero) != "Literal" or float(zero.value()) != 0.0:
        return False
    mfn, margs = _lambda_parts(merge)
    if _cls(mfn) != "Add" or len(margs) != 2:
        return False
    add_ids = {_eid(mfn.children().apply(0)), _eid(mfn.children().apply(1))}
    if add_ids != {_eid(margs[0]), _eid(margs[1])}:
        return False
    ffn, fargs = _lambda_parts(finish)
    return (
        _cls(ffn) == "NamedLambdaVariable"
        and len(fargs) == 1
        and _eid(ffn) == _eid(fargs[0])
    )


def _attr_lit_sides(left, right):
    """(attr, lit) when one side is the stored column and the other the
    (constant-folded) query-vector literal, else None."""
    left, right = _strip_cast(left), _strip_cast(right)
    if _cls(left) == "AttributeReference" and _cls(right) == "Literal":
        attr, lit = left, right
    elif _cls(right) == "AttributeReference" and _cls(left) == "Literal":
        attr, lit = right, left
    else:
        return None
    if not lit.dataType().simpleString().startswith("array<"):
        return None
    return attr, lit


def _match_dot(e):
    """ArrayAggregate(ZipWith(a, b, (x,y)->x*y), 0.0, +, id) → (attr, lit)
    jexprs, or None."""
    e = _strip_cast(e)
    if _cls(e) != "ArrayAggregate":
        return None
    ch = e.children()
    if ch.size() != 4:
        return None
    zw, zero, merge, finish = (ch.apply(i) for i in range(4))
    if _cls(zw) != "ZipWith" or not _is_zero_plus_identity(zero, merge, finish):
        return None
    sides = _attr_lit_sides(zw.left(), zw.right())
    if sides is None:
        return None
    fn, args = _lambda_parts(zw.function())
    if _cls(fn) != "Multiply" or len(args) != 2:
        return None
    mul_ids = {_eid(fn.children().apply(0)), _eid(fn.children().apply(1))}
    if (
        _cls(fn.children().apply(0)) != "NamedLambdaVariable"
        or _cls(fn.children().apply(1)) != "NamedLambdaVariable"
        or mul_ids != {_eid(args[0]), _eid(args[1])}
    ):
        return None
    return sides


def _match_norm(e):
    """Sqrt(ArrayAggregate(ArrayTransform(base, v -> v*v), 0.0, +, id)) →
    the (cast-stripped) base jexpr, or None."""
    e = _strip_cast(e)
    if _cls(e) != "Sqrt":
        return None
    agg = _strip_cast(e.children().apply(0))
    if _cls(agg) != "ArrayAggregate":
        return None
    ch = agg.children()
    if ch.size() != 4:
        return None
    tfm, zero, merge, finish = (ch.apply(i) for i in range(4))
    if _cls(tfm) != "ArrayTransform" or not _is_zero_plus_identity(zero, merge, finish):
        return None
    tch = tfm.children()
    base, fn = tch.apply(0), tch.apply(1)
    f, args = _lambda_parts(fn)
    if _cls(f) != "Multiply" or len(args) != 1:
        return None
    l, r = f.children().apply(0), f.children().apply(1)
    if not (
        _cls(l) == "NamedLambdaVariable"
        and _cls(r) == "NamedLambdaVariable"
        and _eid(l) == _eid(args[0])
        and _eid(r) == _eid(args[0])
    ):
        return None
    return _strip_cast(base)


def _match_l2_sort_expr(expr):
    """Match the canonical L2 expression our SQL expansion / registration
    produces (functions/distance.py:SQL_TEMPLATES):

      [Sqrt] ArrayAggregate(ZipWith(col, lit, (x,y)->(x-y)*(x-y)),
                            0.0, (acc,x)->acc+x, id->id)

    Returns (column_attr, [floats], has_sqrt) or None. The Sqrt is
    optional so ``ORDER BY squared_l2(...)`` (same ordering) intercepts
    too; ``has_sqrt`` tells the caller whether the expression's VALUE is
    the true distance (needed when the query also projects it).
    """
    e = _strip_cast(expr)
    has_sqrt = False
    if _cls(e) == "Sqrt":
        has_sqrt = True
        e = _strip_cast(e.children().apply(0))
    if _cls(e) != "ArrayAggregate":
        return None
    ch = e.children()  # (argument, zero, merge, finish)
    if ch.size() != 4:
        return None
    zw, zero, merge, finish = (ch.apply(i) for i in range(4))
    if _cls(zw) != "ZipWith" or not _is_zero_plus_identity(zero, merge, finish):
        return None
    sides = _attr_lit_sides(zw.left(), zw.right())
    if sides is None:
        return None
    attr, lit = sides
    # (x, y) -> (x - y) * (x - y)   [exprId-checked, so (x-y)*(y-x) declines]
    fn, args = _lambda_parts(zw.function())
    if _cls(fn) != "Multiply" or len(args) != 2:
        return None
    a_id, b_id = _eid(args[0]), _eid(args[1])
    m_l, m_r = fn.children().apply(0), fn.children().apply(1)
    ok_xy = _is_sub(m_l, a_id, b_id) and _is_sub(m_r, a_id, b_id)
    ok_yx = _is_sub(m_l, b_id, a_id) and _is_sub(m_r, b_id, a_id)
    if not (ok_xy or ok_yx):
        return None
    vec = [float(x) for x in lit.value().toDoubleArray()]
    return attr, vec, has_sqrt


def _match_cosine_sort_expr(expr):
    """Match the single-eval cosine expansion
    (functions/distance.py:SQL_TEMPLATES):

      transform(array(norm(col) * norm(lit)),
                d -> CASE WHEN d = 0 THEN NaN ELSE dot(col, lit) / d END)[0]

    — i.e. GetArrayItem(ArrayTransform(CreateArray([Multiply(norm, norm)]),
    λ CaseWhen), 0). The dot's (attr, lit) must semantically match the two
    norm bases. Returns (column_attr, [floats]) or None.
    """
    e = _strip_cast(expr)
    if _cls(e) != "GetArrayItem":
        return None
    idx_lit = e.children().apply(1)
    if _cls(idx_lit) != "Literal" or int(idx_lit.value()) != 0:
        return None
    tfm = _strip_cast(e.children().apply(0))
    if _cls(tfm) != "ArrayTransform":
        return None
    arr, lam = tfm.children().apply(0), tfm.children().apply(1)
    if _cls(arr) != "CreateArray" or arr.children().size() != 1:
        return None
    denom = _strip_cast(arr.children().apply(0))
    if _cls(denom) != "Multiply":
        return None
    base_a = _match_norm(denom.children().apply(0))
    base_b = _match_norm(denom.children().apply(1))
    if base_a is None or base_b is None:
        return None
    fn, args = _lambda_parts(lam)
    if len(args) != 1 or _cls(fn) != "CaseWhen":
        return None
    # CaseWhen children: (cond, value, elseValue) for the single branch
    cch = fn.children()
    if cch.size() != 3:
        return None
    cond, val, els = cch.apply(0), cch.apply(1), cch.apply(2)
    d_id = _eid(args[0])
    if _cls(cond) != "EqualTo":
        return None
    c_l, c_r = cond.children().apply(0), cond.children().apply(1)
    if not (
        (_cls(c_l) == "NamedLambdaVariable" and _eid(c_l) == d_id
         and _cls(c_r) == "Literal" and float(c_r.value()) == 0.0)
        or (_cls(c_r) == "NamedLambdaVariable" and _eid(c_r) == d_id
            and _cls(c_l) == "Literal" and float(c_l.value()) == 0.0)
    ):
        return None
    import math

    if _cls(val) != "Literal" or not math.isnan(float(val.value())):
        return None
    if _cls(els) != "Divide":
        return None
    dot, dvar = els.children().apply(0), els.children().apply(1)
    if _cls(dvar) != "NamedLambdaVariable" or _eid(dvar) != d_id:
        return None
    sides = _match_dot(dot)
    if sides is None:
        return None
    attr, lit = sides
    # the dot's column/vector must be the same as the norms' bases
    norm_attr = base_a if _cls(base_a) == "AttributeReference" else base_b
    norm_lit = base_b if norm_attr is base_a else base_a
    if _cls(norm_attr) != "AttributeReference" or _cls(norm_lit) != "Literal":
        return None
    if _eid(attr) != _eid(norm_attr) or not lit.semanticEquals(norm_lit):
        return None
    vec = [float(x) for x in lit.value().toDoubleArray()]
    return attr, vec


def _attr_only_project(jnode, allow_alias_eid: Optional[int] = None) -> Optional[list]:
    """Project list if every output is a bare AttributeReference — or, when
    ``allow_alias_eid`` is given, the single Alias with that exprId (the
    projected distance column being intercepted) — else None."""
    pl = jnode.projectList()
    out = []
    for i in range(pl.size()):
        e = pl.apply(i)
        if _cls(e) == "Alias" and allow_alias_eid is not None:
            if e.exprId().id() != allow_alias_eid:
                return None
        elif _cls(e) != "AttributeReference":
            return None
        out.append(e.name())
    return out


def _projected_sort_target(sort_key, below):
    """When the sort key is a bare attribute defined by the Project directly
    under the Sort (``SELECT id, array_distance(v, q) AS d … ORDER BY d``),
    return ``(defining_jexpr, alias_name, alias_eid)`` so the kernel
    matchers can run on the alias's child; else (None, None, None)."""
    key = _strip_cast(sort_key)
    if _cls(key) != "AttributeReference" or _cls(below) != "Project":
        return None, None, None
    pl = below.projectList()
    for i in range(pl.size()):
        e = pl.apply(i)
        if _cls(e) == "Alias" and e.exprId().id() == _eid(key):
            return e.child(), e.name(), e.exprId().id()
    return None, None, None


def _normalize_path(p: str) -> str:
    if p.startswith("file:"):
        p = re.sub(r"^file:(//)?", "", p)
    return os.path.abspath(p.rstrip("/"))


def _unqualified_sql(spark, jexpr) -> str:
    """Regenerate a Filter condition's SQL with every ``AttributeReference``
    qualifier dropped — by rebuilding the EXPRESSION TREE (py4j:
    ``withQualifier`` on attribute nodes, ``withNewChildren`` up the spine),
    never by rewriting the SQL string. A string literal whose text contains
    ``alias.`` therefore survives verbatim (the old regex approach was
    quote-blind and could corrupt such literals into silently-wrong
    filters). The rebuilt scan has no view alias, so the unqualified names
    resolve against it directly."""
    to_seq = spark._jvm.org.apache.spark.api.python.PythonUtils.toSeq

    def rebuild(e):
        if _cls(e) == "AttributeReference":
            return e.withQualifier(to_seq([]))
        ch = e.children()
        if ch.size() == 0:
            return e
        rebuilt = [rebuild(ch.apply(i)) for i in range(ch.size())]
        return e.withNewChildren(to_seq(rebuilt))

    return rebuild(jexpr).sql()


def _try_pq_route(
    spark, df, path, column, vec, k, tie_break, options, observation,
    dist_alias=None,
):
    """Attempt the IVF-PQ interception route for an L2, unfiltered top-k
    over ``path``. Returns ``(out_df, obs_consumed)``:

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
        # stage's exact distance column (renamed below); a projection
        # outside that set cannot take this route (schema-only probe — no
        # job)
        avail = set(spark.read.parquet(path).columns) - {CLUSTER_COL}
        if dist_alias is not None:
            avail = avail | {dist_alias}
        if not set(df.columns) <= avail:
            _LOG.info(
                "ivfpq route skipped: projection needs columns the codes "
                "route drops (%s)", sorted(set(df.columns) - avail)
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
        return out.select(*df.columns), False
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
    top-k-by-L2-distance shape over a registered indexed table, return the
    equivalent IVF-probe DataFrame (same output columns), else None.

    Never raises: any unexpected plan/py4j shape declines (returns None)
    and records the guard that fired in ``last_decline_reason()``.
    """
    from pq_vector_spark.plans.sql import _INDEXED_TABLES

    if not _INDEXED_TABLES:
        _set_decline("no-indexed-tables: register_indexed_table was never called")
        return None
    try:
        out = _try_intercept(spark, df, options, observation, _INDEXED_TABLES)
        _set_decline(None)
        return out
    except _Decline as d:
        _set_decline(str(d))
        return None
    except Exception as e:  # py4j surprises etc. — never propagate
        _set_decline(f"unexpected-{type(e).__name__}: {e}")
        return None


def _try_intercept(spark, df, options, observation, indexed_tables):
    plan = df._jdf.queryExecution().optimizedPlan()
    if _cls(plan) != "GlobalLimit":
        _decline(f"root-not-global-limit: plan root is {_cls(plan)}, not GlobalLimit")
    k_lit = plan.limitExpr()
    if _cls(k_lit) != "Literal":
        _decline("limit-not-literal: LIMIT is not a constant")
    k = int(k_lit.value())
    node = plan.children().apply(0)
    if _cls(node) != "LocalLimit":
        _decline(f"no-local-limit: under GlobalLimit is {_cls(node)}")
    node = node.children().apply(0)
    if _cls(node) == "Project":
        if _attr_only_project(node) is None:
            _decline("project-not-attrs-only: projection computes expressions")
        node = node.children().apply(0)
    if _cls(node) != "Sort" or not getattr(node, "global")():
        _decline(f"no-global-sort: under limit is {_cls(node)} (need global Sort)")
    order = node.order()
    if order.size() not in (1, 2):
        _decline(f"order-keys: {order.size()} sort keys (need 1-2)")
    so = order.apply(0)
    # the sort key may be the kernel expression inline, or a bare attribute
    # whose defining Alias lives in the Project directly under the Sort
    # (``SELECT id, array_distance(v, q) AS d … ORDER BY d``) — in the
    # latter case the replacement must also PRODUCE the distance column
    proj_target, dist_alias, dist_eid = _projected_sort_target(
        so.child(), node.children().apply(0)
    )
    if so.direction().sql() == "ASC":
        # L2 distance, ascending — the reference's one shape
        # (ASC-only guard ≙ physical.rs:143-145)
        metric = "l2"
        matched = _match_l2_sort_expr(so.child())
        if matched is not None:
            dist_alias = dist_eid = None  # inline expr; nothing projected
        elif proj_target is not None:
            matched = _match_l2_sort_expr(proj_target)
            if matched is not None and not matched[2]:
                # the projected VALUE is squared-l2; the probe outputs the
                # true (sqrt) distance and sqrt(x)^2 re-squares with ulp
                # error — never silently emit almost-equal values
                _decline(
                    "projected-squared-distance: squared_l2 is accepted as "
                    "a sort key but not as a projected output column"
                )
        if matched is None:
            _decline(
                "sort-expr-not-l2: ASC sort key is not the canonical "
                "l2/squared-l2(column, literal-vector) expression"
            )
        attr, vec, _ = matched
    else:
        # cosine similarity, DESCENDING — our extension metric over the
        # same layout (probes L2 centroids like the batch kernel)
        metric = "cosine"
        matched = _match_cosine_sort_expr(so.child())
        if matched is not None:
            dist_alias = dist_eid = None
        elif proj_target is not None:
            matched = _match_cosine_sort_expr(proj_target)
        if matched is None:
            _decline(
                "sort-expr-not-cosine: DESC sort key is not the canonical "
                "cosine_similarity(column, literal-vector) expression"
            )
        attr, vec = matched
    tie_break = None
    if order.size() == 2:
        so2 = order.apply(1)
        t = _strip_cast(so2.child())
        if so2.direction().sql() != "ASC" or _cls(t) != "AttributeReference":
            _decline("tie-break-shape: second sort key must be a plain attribute ASC")
        tie_break = t.name()

    # below the Sort: only attr-projections and filters down to one parquet scan
    conds = []
    n2 = node.children().apply(0)
    while _cls(n2) in ("Project", "Filter"):
        if _cls(n2) == "Project":
            if _attr_only_project(n2, allow_alias_eid=dist_eid) is None:
                _decline("pre-sort-project: projection below Sort computes expressions")
        else:
            conds.append(_unqualified_sql(spark, n2.condition()))
        n2 = n2.children().apply(0)
    if _cls(n2) != "LogicalRelation":
        _decline(f"scan-shape: below Sort is {_cls(n2)}, not a simple relation scan")
    rel = n2.relation()
    if _cls(rel) != "HadoopFsRelation":
        _decline(f"relation-kind: {_cls(rel)} is not a file-based relation")
    rps = rel.location().rootPaths()
    if rps.size() != 1:
        _decline(f"multi-root-scan: {rps.size()} root paths (need exactly 1)")
    scan_path = _normalize_path(rps.apply(0).toString())
    path = next(
        (p for p in indexed_tables.values() if _normalize_path(p) == scan_path),
        None,
    )
    if path is None:
        _decline(f"path-not-indexed: {scan_path} is not a registered indexed table")

    pre = None
    for c in conds:
        col = F.expr(c)
        pre = col if pre is None else (pre & col)
    if pre is not None:
        # analysis-only resolution probe (no job): a condition the rebuilt
        # scan can't resolve declines HERE, before an Observation could be
        # attached to a plan that then fails.
        spark.read.parquet(path).filter(pre).schema

    # Prefer the doubly-pruned IVF-PQ plan (cluster prune × m-byte ADC
    # codes scan × exact re-rank) when a codes sidecar is registered for
    # this layout and the shape allows it: L2 metric (ADC tables are
    # squared-L2), no pre-filter (the codes table carries only id+cluster+
    # codes, so a payload filter can't push into stage one), and the
    # tie-break — if any — matching the sidecar's id column (ivfpq_topk
    # breaks ties on it unconditionally). Any failure inside the PQ route
    # falls back to the raw IVF probe below, never to brute force.
    if metric == "l2" and pre is None:
        pq_out, obs_consumed = _try_pq_route(
            spark, df, path, attr.name(), vec, k, tie_break, options, observation,
            dist_alias=dist_alias,
        )
        if pq_out is not None:
            return pq_out
        if obs_consumed:
            # the single-use Observation is already bound to the failed PQ
            # plan; the IVF fallback must run without it (re-attaching would
            # raise REUSE_OBSERVATION and turn a route fallback into a full
            # decline to brute force)
            observation = None

    from pq_vector_spark.index.search import indexed_topk

    out = indexed_topk(
        spark,
        path,
        vec,
        k,
        column=attr.name(),
        options=options,
        pre_filter=pre,
        tie_break=tie_break,
        observation=observation,
        metric=metric,
        keep_distance=dist_alias is not None,
    )
    if dist_alias is not None:
        # the query projects the distance/similarity value itself; the
        # probe's column carries the identical canonical fold (bit-equal),
        # renamed to the query's alias
        from pq_vector_spark.operators.topk import DISTANCE_COL

        if dist_alias != DISTANCE_COL:
            out = out.withColumnRenamed(DISTANCE_COL, dist_alias)
    # identical output schema (names + order) to the plan being replaced
    return out.select(*df.columns)
