"""pq_sql front-end tests — the PySpark stand-in for the reference's
physical rewrite rule (src/df_vector/physical.rs guard list)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pq_vector_spark.index.build import build_index
from pq_vector_spark.plans.explain import vector_route
from pq_vector_spark.plans.sql import (
    expand_vector_functions,
    pq_sql,
    register_indexed_table,
)
from pq_vector_spark.session import IndexBuildOptions, VectorTopKOptions


@pytest.fixture(scope="module")
def sql_table(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("sqlidx")
    src = str(base / "src.parquet")
    out = str(base / "indexed")
    rng = np.random.default_rng(7)
    rows = [(int(i), [float(x) for x in rng.random(4, dtype=np.float32)]) for i in range(500)]
    spark.createDataFrame(rows, "id INT, vec ARRAY<FLOAT>").write.mode("overwrite").parquet(src)
    build_index(spark, src, out, column="vec", options=IndexBuildOptions(n_clusters=8))
    register_indexed_table(spark, "sql_vectors", out)
    return {"src": src, "out": out}


def test_topk_shape_matches(spark, sql_table):
    q = "SELECT id FROM sql_vectors ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 5"
    df = pq_sql(spark, q, options=VectorTopKOptions(nprobe=8))
    assert vector_route(df) == "ivf"
    assert len(df.collect()) == 5


def test_indexed_route_equals_brute_force(spark, sql_table):
    """Indexed route with nprobe=all must equal the plain-SQL brute force."""
    q = "SELECT id FROM sql_vectors ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 5"
    indexed = [r["id"] for r in pq_sql(spark, q, options=VectorTopKOptions(nprobe=8)).collect()]
    brute = [r["id"] for r in spark.sql(expand_vector_functions(q)).collect()]
    assert indexed == brute


def test_where_clause_applied(spark, sql_table):
    q = (
        "SELECT id FROM sql_vectors WHERE id >= 100 "
        "ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 5"
    )
    df = pq_sql(spark, q, options=VectorTopKOptions(nprobe=8))
    assert vector_route(df) == "ivf"
    out = df.collect()
    assert len(out) == 5
    assert all(r["id"] >= 100 for r in out)


def test_desc_falls_through(spark, sql_table):
    # ASC-only guard ≙ physical.rs:143-145
    q = (
        "SELECT id FROM sql_vectors "
        "ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) DESC LIMIT 3"
    )
    df = pq_sql(spark, q)
    assert vector_route(df) == "brute-force"
    assert len(df.collect()) == 3  # still answered (brute force), not an error


def test_offset_falls_through(spark, sql_table):
    # no-OFFSET guard ≙ physical.rs:36-90
    q = (
        "SELECT id FROM sql_vectors "
        "ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 3 OFFSET 1"
    )
    df = pq_sql(spark, q)
    assert vector_route(df) == "brute-force"
    assert len(df.collect()) == 3


def test_non_topk_sql_passthrough(spark, sql_table):
    out = pq_sql(spark, "SELECT count(*) AS n FROM sql_vectors").collect()
    assert out[0]["n"] == 500


def test_expand_vector_functions_nested():
    got = expand_vector_functions("SELECT array_distance(a, b) FROM t")
    assert "sqrt" in got and "zip_with" in got and "array_distance" not in got


def test_cosine_expansion_runs(spark):
    got = pq_sql(
        spark,
        "SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c",
    ).collect()[0]["c"]
    assert got == pytest.approx(1.0)


def test_registered_functions_match_expansions_bit_for_bit(spark):
    """The registered temp functions and the pq_sql expansions come from
    one template table: each pair returns the same doubles bit for bit,
    over a NULL row, a dim-mismatch row and a zero-norm row too."""
    import struct

    from pq_vector_spark.functions.distance import SQL_TEMPLATES, register_sql_functions

    register_sql_functions(spark)
    rows = [
        (0, [1.0, 2.0, 3.0]),
        (1, None),
        (2, [1.0, 2.0]),
        (3, [0.0, 0.0, 0.0]),
        (4, [0.1, -1.5, 2.3]),
    ]
    spark.createDataFrame(rows, "id INT, v ARRAY<DOUBLE>").createOrReplaceTempView(
        "template_rows"
    )
    q = "array(0.7D, -1.0D, 4.1D)"

    def bits(x):
        return None if x is None else ("nan" if x != x else struct.pack("<d", x))

    for name, template in sorted(SQL_TEMPLATES.items()):
        got = spark.sql(
            f"SELECT id, {name}(v, {q}) AS f, {template.format(a='v', b=q)} AS e "
            "FROM template_rows ORDER BY id"
        ).collect()
        assert [(r["id"], bits(r["f"])) for r in got] == [
            (r["id"], bits(r["e"])) for r in got
        ], name
        by_id = {r["id"]: r["f"] for r in got}
        assert by_id[1] is None and by_id[2] is None, name  # NULL, dim mismatch
        assert by_id[0] is not None and by_id[4] is not None, name
        if name == "cosine_similarity":
            assert by_id[3] != by_id[3]  # zero norm: NaN
        else:
            assert by_id[3] is not None


# -------------------- adversarial parser hardening (round-2) --------------------


@pytest.fixture(scope="module")
def sql_table_str(spark, tmp_path_factory):
    """Indexed table with a STRING column for quoted-literal adversarial cases."""
    base = tmp_path_factory.mktemp("sqlidx_str")
    src = str(base / "src.parquet")
    out = str(base / "indexed")
    rng = np.random.default_rng(9)
    rows = [
        (int(i), f"name-{i}", [float(x) for x in rng.random(4, dtype=np.float32)])
        for i in range(200)
    ]
    spark.createDataFrame(rows, "id INT, name STRING, vec ARRAY<FLOAT>").write.mode(
        "overwrite"
    ).parquet(src)
    build_index(spark, src, out, column="vec", options=IndexBuildOptions(n_clusters=4))
    register_indexed_table(spark, "sql_vectors_str", out)
    return {"src": src, "out": out}


def test_projection_with_function_commas(spark, sql_table):
    """A computed projection (a rounded distance, with a comma inside
    round's arguments) keeps the indexed route: the interceptor re-applies
    it over the probe's rows."""
    q = (
        "SELECT id, round(array_distance(vec, [0.5, 0.5, 0.5, 0.5]), 2) AS d "
        "FROM sql_vectors ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 4"
    )
    df = pq_sql(spark, q, options=VectorTopKOptions(nprobe=8))
    assert vector_route(df) == "ivf"
    out = df.collect()
    assert len(out) == 4
    assert set(out[0].asDict()) == {"id", "d"}


def test_quoted_literal_with_comma_and_keywords(spark, sql_table_str):
    """A WHERE string literal containing commas AND 'ORDER BY ... LIMIT'
    text must neither break the match nor cause a wrong rewrite."""
    q = (
        "SELECT id FROM sql_vectors_str "
        "WHERE name != 'x, ORDER BY array_distance(vec, [9]) LIMIT 1' "
        "ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 5"
    )
    df = pq_sql(spark, q, options=VectorTopKOptions(nprobe=4))
    assert vector_route(df) == "ivf"
    got = [r["id"] for r in df.collect()]
    brute = [r["id"] for r in spark.sql(expand_vector_functions(
        "SELECT id FROM sql_vectors_str "
        "ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]), id LIMIT 5"
    )).collect()]
    assert len(got) == 5
    assert set(got) <= set(brute) | set(got)  # answered, no exception
    # the filter is a no-op (no such name) so indexed == brute modulo ties
    assert sorted(got) == sorted(
        r["id"] for r in pq_sql(
            spark,
            "SELECT id FROM sql_vectors_str "
            "ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 5",
            options=VectorTopKOptions(nprobe=4),
        ).collect()
    )


def test_quoted_text_is_not_expanded(spark, sql_table_str):
    """Quoted literals keep their text: a projected string that looks like
    a bracket vector or a distance call comes back as written, on the
    intercepted route."""
    q = (
        "SELECT id, '[0.5, 1]' AS tag, 'array_distance(vec, [9])' AS s "
        "FROM sql_vectors_str WHERE name != 'it''s [1]' "
        "ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 3"
    )
    assert "'[0.5, 1]'" in expand_vector_functions(q)
    df = pq_sql(spark, q, options=VectorTopKOptions(nprobe=4))
    assert vector_route(df) == "ivf"
    rows = df.collect()
    assert len(rows) == 3
    assert {(r["tag"], r["s"]) for r in rows} == {("[0.5, 1]", "array_distance(vec, [9])")}


def test_subquery_in_where_falls_through(spark, sql_table):
    q = (
        "SELECT id FROM sql_vectors "
        "WHERE id >= (SELECT min(id) FROM sql_vectors) "
        "ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 3"
    )
    out = pq_sql(spark, q).collect()  # brute-force fall-through, not an error
    assert len(out) == 3


def test_qualified_sort_column(spark, sql_table):
    q = (
        "SELECT id FROM sql_vectors "
        "ORDER BY array_distance(sql_vectors.vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 5"
    )
    df = pq_sql(spark, q, options=VectorTopKOptions(nprobe=8))
    assert vector_route(df) == "ivf"
    got = [r["id"] for r in df.collect()]
    plain = [r["id"] for r in pq_sql(
        spark,
        "SELECT id FROM sql_vectors ORDER BY array_distance(vec, [0.5, 0.5, 0.5, 0.5]) LIMIT 5",
        options=VectorTopKOptions(nprobe=8),
    ).collect()]
    assert got == plain


def test_bad_vector_literal_falls_through_to_bruteforce(spark, sql_table):
    """Non-numeric vector literal: the fallback must EXPAND the functions
    (raw bracket literals are not valid Spark SQL) and still answer."""
    q = (
        "SELECT id FROM sql_vectors "
        "ORDER BY array_distance(vec, array(0.5, 0.5, 0.5, vec[0])) LIMIT 3"
    )
    out = pq_sql(spark, q).collect()
    assert len(out) == 3


def test_unterminated_quote_falls_through(spark, sql_table):
    with pytest.raises(Exception):
        # unterminated literal is invalid SQL — must surface Spark's parse
        # error from the fall-through, never a wrong rewrite
        pq_sql(spark, "SELECT id FROM sql_vectors WHERE name = 'oops "
                      "ORDER BY array_distance(vec, [0.1]) LIMIT 1").collect()


def test_registered_table_follows_append_and_rebuild(spark, tmp_path):
    """A view registered over a layout lists the layout's files as they
    were at registration; append_to_index and auto_rebuild_if_stale
    re-register it. The count, an intercepted ASC top-k and a declined
    (brute-force) DESC top-k all see every row after either mutation."""
    from pq_vector_spark.index.build import append_to_index, auto_rebuild_if_stale

    src = str(tmp_path / "src.parquet")
    out = str(tmp_path / "indexed")
    rng = np.random.default_rng(13)

    def rows(start, n):
        return [
            (int(start + i), [float(x) for x in rng.random(4, dtype=np.float32)])
            for i in range(n)
        ]

    spark.createDataFrame(rows(0, 300), "id INT, vec ARRAY<FLOAT>").write.parquet(src)
    build_index(spark, src, out, column="vec", options=IndexBuildOptions(n_clusters=8))
    register_indexed_table(spark, "sql_growing", out)
    append_to_index(spark, spark.createDataFrame(rows(300, 200), "id INT, vec ARRAY<FLOAT>"), out)

    vec = "[0.5, 0.5, 0.5, 0.5]"
    opts = VectorTopKOptions(nprobe=64)  # every cluster, before and after the rebuild

    def counts():
        n = pq_sql(spark, "SELECT count(*) AS n FROM sql_growing").collect()[0]["n"]
        asc = pq_sql(
            spark,
            f"SELECT id FROM sql_growing ORDER BY array_distance(vec, {vec}) LIMIT 500",
            options=opts,
        )
        desc = pq_sql(
            spark,
            f"SELECT id FROM sql_growing ORDER BY array_distance(vec, {vec}) DESC LIMIT 500",
            options=opts,
        )
        assert vector_route(asc) == "ivf"
        assert vector_route(desc) == "brute-force"
        return n, len(asc.collect()), len(desc.collect())

    assert counts() == (500, 500, 500)
    assert auto_rebuild_if_stale(spark, out)["rebuilt"]  # 200/500 appended
    # the swap retired every file the view listed before it
    assert counts() == (500, 500, 500)
