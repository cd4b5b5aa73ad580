"""Guards for the one SQL route: ``pq_sql`` is ``spark.sql`` plus the plan
interceptor, which reads the optimized plan from one ``toJSON`` fetch.
Its round trips to the JVM must not grow with the query vector's
dimension, the vector parsed from the JSON must be the literal's exact
doubles, and ``plans/sql.py`` must not reach into the index package (the
index is found through the plan, not through the query text)."""

import ast
import json
import math
import struct
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from pq_vector_spark.index.build import build_index
from pq_vector_spark.plans.explain import vector_route
from pq_vector_spark.plans.intercept import _tree, query_vector
from pq_vector_spark.plans.sql import pq_sql, register_indexed_table
from pq_vector_spark.session import IndexBuildOptions, VectorTopKOptions

PACKAGE = Path(__file__).resolve().parent.parent / "pq_vector_spark"


def index_imports(source: str) -> list:
    """``(line, module)`` for every import of ``pq_vector_spark.index``
    (or a module under it) in ``source``."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            if name == "pq_vector_spark.index" or name.startswith("pq_vector_spark.index."):
                found.append((node.lineno, name))
                break
    return found


def test_sql_module_imports_nothing_from_index():
    found = index_imports((PACKAGE / "plans" / "sql.py").read_text())
    assert not found, f"plans/sql.py imports the index package at {found}"


def test_check_finds_index_imports():
    bad = """
import pq_vector_spark.index.search
from pq_vector_spark.index.search import indexed_topk
from pq_vector_spark import index
from pq_vector_spark.plans import intercept

def f():
    from pq_vector_spark.index import build
"""
    assert [line for line, _ in index_imports(bad)] == [2, 3, 4, 8]


def test_json_query_vector_is_bit_equal(spark):
    """The vector parsed from the Literal's JSON ``value`` is bit-equal to
    the JVM's own ``toDoubleArray()``: subnormals, ±0.0, the largest
    double, 1e23, NaN and ±inf included."""
    vals = [
        5e-324, -5e-324, 1e-310, 2.2250738585072014e-308, 0.0, -0.0,
        1.7976931348623157e308, -1.7976931348623157e308, 1e23, 0.1, 1 / 3,
        math.nan, math.inf, -math.inf,
    ]
    df = spark.range(1).select(F.array(*[F.lit(v) for v in vals]).alias("a"))
    jplan = df._jdf.queryExecution().optimizedPlan()
    alias = _tree(json.loads(jplan.toJSON())[0]["projectList"][0])
    parsed = query_vector(alias["_ch"][0])
    jvm = list(jplan.p(0).projectList().apply(0).child().value().toDoubleArray())

    def bits(xs):
        return [struct.pack("<d", x) for x in xs]

    assert bits(parsed) == bits(jvm) == bits(vals)


def test_intercept_round_trips_do_not_grow_with_dim(spark, tmp_path):
    """py4j round trips per intercepted query are the same at dim 160 and
    dim 640 over the same table shape (proxy-release messages, which
    depend on garbage collection, are not counted)."""
    rng = np.random.default_rng(17)
    sqls = {}
    for dim in (160, 640):
        src = str(tmp_path / f"src{dim}.parquet")
        out = str(tmp_path / f"indexed{dim}")
        rows = [
            (int(i), [float(x) for x in rng.random(dim, dtype=np.float32)])
            for i in range(200)
        ]
        spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>").coalesce(1).write.parquet(src)
        build_index(spark, src, out, column="vec", options=IndexBuildOptions(n_clusters=4))
        register_indexed_table(spark, f"route_dim{dim}", out)
        lit = ", ".join(repr(float(x)) for x in rng.random(dim, dtype=np.float32))
        sqls[dim] = (
            f"SELECT id FROM route_dim{dim} WHERE id >= 10 "
            f"ORDER BY array_distance(vec, [{lit}]), id LIMIT 10"
        )

    opts = VectorTopKOptions(nprobe=2)
    counts = {dim: counted_pq_sql(spark, q, opts) for dim, q in sqls.items()}
    assert counts[160] == counts[640], counts


def counted_pq_sql(spark, query, opts) -> int:
    """py4j round trips (proxy releases excluded) of one warm ``pq_sql``
    construction; the query must take the IVF route and return 10 rows."""
    from py4j.java_gateway import GatewayClient

    calls = [0]
    send = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            calls[0] += 1
        return send(self, command, *args, **kwargs)

    pq_sql(spark, query, options=opts)  # warm: sidecar and codes-lookup caches
    GatewayClient.send_command = counting
    try:
        df = pq_sql(spark, query, options=opts)
    finally:
        GatewayClient.send_command = send
    assert vector_route(df) == "ivf"
    assert len(df.collect()) == 10
    return calls[0]


def test_probe_round_trips_do_not_grow_with_nprobe(spark, tmp_path):
    """The probed-cluster predicate is one parsed expression, so probing 2,
    8 or 16 clusters costs the same py4j round trips. The 16-cluster probe
    exceeds a lowered inFilterThreshold and takes the OR-of-equals form."""
    rng = np.random.default_rng(23)
    src = str(tmp_path / "src.parquet")
    out = str(tmp_path / "indexed")
    rows = [(int(i), [float(x) for x in rng.random(8, dtype=np.float32)]) for i in range(400)]
    spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>").coalesce(1).write.parquet(src)
    build_index(spark, src, out, column="vec", options=IndexBuildOptions(n_clusters=16))
    register_indexed_table(spark, "route_nprobe", out)
    lit = ", ".join(repr(float(x)) for x in rng.random(8, dtype=np.float32))
    q = f"SELECT id FROM route_nprobe ORDER BY array_distance(vec, [{lit}]) LIMIT 10"
    key = "spark.sql.parquet.pushdown.inFilterThreshold"
    thr = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        counts = {n: counted_pq_sql(spark, q, VectorTopKOptions(nprobe=n)) for n in (2, 8, 16)}
    finally:
        spark.conf.set(key, thr)
    assert counts[2] == counts[8] == counts[16], counts
