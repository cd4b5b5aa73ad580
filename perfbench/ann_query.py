"""ann_query: top-k queries over a pre-built IVF index.

Set-up (``setup_s``): ``get_spark``, then ``setup_reps`` times over a fresh
output path: ``build_index`` on the seeded table, ``append_to_index`` of a
batch from the same distribution and ``register_indexed_table``; then
``warm_blocks`` untimed warm-up blocks of ops. ``setup_s`` is the CPU
seconds of ``get_spark`` plus the median rep plus the warm-up blocks; the
last rep's index serves the timed ops.

Timed ops (closed loop, one client) come in blocks of six, in seeded order:
an indexed op and an SQL op on the same query, the same two with a range
``WHERE`` on ``vec_id``, and two exact ops. Query vectors are perturbed data
points. Every op is checked against a numpy ground truth of the generated
matrix: indexed and SQL results must be ordered by true distance and satisfy
the filter, an SQL op must return the ids of the indexed op on the same
query and filter, and an exact op must equal the numpy top-k (ties by
``vec_id``). Their mean recall@k must reach ``RECALL_FLOOR``. Each op is
timed in CPU seconds of the whole process tree (``op_cpu_s``) and in wall
seconds (detail line only); see perfbench/README.md for why.
"""

from __future__ import annotations

import os
import time

import numpy as np

from common import (
    Stopwatch, generic_layers, layer_stats, load_tool, median, metric, start_session,
    trace_overhead,
)

SIZES = {
    "full": dict(n_rows=20_000, dim=256, n_centers=128, n_append=2_000, k=100, nprobe=16,
                 setup_reps=2, warm_blocks=1, pool_blocks=4),
    "tiny": dict(n_rows=2_000, dim=8, n_centers=32, n_append=200, k=10, nprobe=4,
                 setup_reps=2, warm_blocks=1, pool_blocks=8),
}
NOISE = 0.15  # generator default: spread of points around their latent center
QUERY_NOISE = 0.05  # perturbation of the data point a query is drawn from
RECALL_FLOOR = 0.8
TABLE = "perfbench_vecs"
BLOCK = ("ivf", "sql", "ivf_f", "sql_f", "exact", "exact")


def make_inputs(run, cfg):
    """Seeded base table and append batch, written into the run directory
    under a name keyed on every generator parameter; plus the matrix both
    hold, for ground truth."""
    import pyarrow.parquet as pq

    gen = load_tool("gen_scale_embeddings")
    n, m, d, c = cfg["n_rows"], cfg["n_append"], cfg["dim"], cfg["n_centers"]
    seed = 1000 + run.seed
    out_dir = os.path.join(run.run_dir, "inputs", f"emb_n{n}_m{m}_d{d}_c{c}_s{seed}_noise{NOISE}")
    base = gen.generate(n, d, c, seed=seed, noise=NOISE, out_dir=out_dir)
    extra = gen.generate(m, d, c, seed=seed, noise=NOISE, out_dir=out_dir,
                         point_seed=seed + 1, start_id=n)
    mats = []
    for path in (base, extra):
        tbl = pq.read_table(path)
        ids = tbl.column("vec_id").to_numpy()
        vecs = tbl.column("embedding").combine_chunks().flatten().to_numpy().reshape(-1, d)
        mats.append(vecs[np.argsort(ids)])
    matrix = np.concatenate(mats).astype(np.float64)  # row i holds vec_id i
    return base, extra, matrix


class Query:
    """One query with its filter and numpy ground truth: ``truth`` under
    the filter (indexed and SQL ops), ``truth_all`` over the whole table
    (exact ops), both with ties broken by ``vec_id``."""

    def __init__(self, q, lo, hi, matrix, k):
        self.q = q  # float32
        self.lo, self.hi = lo, hi
        self.dist = np.sqrt(((matrix - q.astype(np.float64)) ** 2).sum(axis=1))
        ids = np.arange(len(matrix))
        self.truth_all = np.lexsort((ids, self.dist))[:k]
        if lo is not None:
            ids = ids[(ids >= lo) & (ids <= hi)]
        self.truth = ids[np.lexsort((ids, self.dist[ids]))[:k]]

    @property
    def where(self) -> str:
        return "" if self.lo is None else f"vec_id BETWEEN {self.lo} AND {self.hi}"

    def sql(self, k: int) -> str:
        lit = ", ".join(repr(float(x)) for x in self.q)
        where = f" WHERE {self.where}" if self.where else ""
        return (
            f"SELECT vec_id FROM {TABLE}{where} "
            f"ORDER BY array_distance(embedding, [{lit}]) LIMIT {k}"
        )


def make_queries(stream, cfg, matrix, n_queries):
    """``n_queries`` perturbed data points; every second one filtered to a
    seeded half of the id range."""
    rng = np.random.default_rng(stream)
    total = len(matrix)
    out = []
    for i in range(n_queries):
        row = matrix[rng.integers(0, total)]
        q = (row + rng.normal(scale=QUERY_NOISE, size=row.shape)).astype(np.float32)
        lo = hi = None
        if i % 2:
            lo = int(rng.integers(0, total // 2))
            hi = lo + total // 2
        out.append(Query(q, lo, hi, matrix, cfg["k"]))
    return out


def check_ranked(ids, query, k) -> bool:
    """Indexed/SQL result: k distinct ids inside the filter, in ascending
    true distance (float64 numpy, relative slack for float rounding)."""
    if len(ids) != k or len(set(ids)) != k:
        return False
    arr = np.asarray(ids)
    if query.lo is not None and ((arr < query.lo) | (arr > query.hi)).any():
        return False
    d = query.dist[arr]
    return bool((np.diff(d) >= -1e-9 * (1 + d[1:])).all())


def check_exact(ids, query) -> bool:
    """Exact result: the numpy top-k over the whole table, in order; ids
    may differ only where distances tie within float rounding."""
    if list(ids) == query.truth_all.tolist():
        return True
    if len(ids) != len(query.truth_all):
        return False
    got = query.dist[np.asarray(ids)]
    return bool(np.allclose(got, query.dist[query.truth_all], rtol=1e-9, atol=0))


def index_bytes(path: str) -> int:
    """Bytes of a file, or of every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def run(run):
    import pq_vector_spark as pv
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pq_vector_spark.plans.explain import observed_metrics
    from tracing import SpanTree, attribute

    cfg = SIZES["tiny" if run.tiny else "full"]
    k = cfg["k"]
    opts = pv.VectorTopKOptions(nprobe=cfg["nprobe"])
    base, extra, matrix = make_inputs(run, cfg)
    total_rows = len(matrix)
    warm = make_queries([run.seed, 1], cfg, matrix, len(BLOCK) * cfg["warm_blocks"])
    pool = make_queries([run.seed, 2], cfg, matrix, 4 * cfg["pool_blocks"])
    rng = np.random.default_rng([run.seed, 3])

    get_spark = start_session(run)
    spark = run.spark
    tr = run.tracer

    def ivf_op(query, observation=None):
        pre = F.expr(query.where) if query.lo is not None else None
        with tr.span("index.search.construct"):
            df = pv.indexed_topk(spark, path, query.q.tolist(), k, options=opts,
                                 pre_filter=pre, observation=observation)
        with tr.span("index.search.execute"):
            return [r["vec_id"] for r in df.collect()]

    def sql_op(query, observation=None):
        with tr.span("plans.sql.construct"):
            df = pv.pq_sql(spark, query.sql(k), options=opts, observation=observation)
        with tr.span("plans.sql.execute"):
            rows = df.collect()
        return [r["vec_id"] for r in rows], df

    def exact_op(query):
        with tr.span("operators.topk.construct"):
            df = pv.brute_force_topk(spark.table(TABLE), "embedding", query.q.tolist(), k,
                                     tie_break="vec_id")
        with tr.span("operators.topk.execute"):
            return [r["vec_id"] for r in df.collect()]

    # ---- set-up: build + append + register, repeated; then warm-up blocks --
    reps = []
    path = None
    for rep in range(cfg["setup_reps"]):
        spark.catalog.clearCache()
        path = os.path.join(run.run_dir, "index", f"rep{rep}")
        with Stopwatch() as sw, tr.span("setup.rep"):
            pv.build_index(spark, base, path)
            pv.append_to_index(spark, extra, path)
            pv.register_indexed_table(spark, TABLE, path)
        reps.append(sw)
    with Stopwatch() as warm_sw, tr.span("setup.warm"):
        for kind, query in zip(BLOCK * cfg["warm_blocks"], warm):
            spark.catalog.clearCache()
            if kind.startswith("ivf"):
                ivf_op(query)
            elif kind.startswith("sql"):
                sql_op(query)
            else:
                exact_op(query)
    setup_cpu_s = get_spark.cpu + median([r.cpu for r in reps]) + warm_sw.cpu
    setup_wall_s = get_spark.wall + median([r.wall for r in reps]) + warm_sw.wall

    n_indexed = spark.read.parquet(path).count()
    if n_indexed != total_rows:
        run.fail(f"indexed rows {n_indexed} != source {cfg['n_rows']} + appended {cfg['n_append']}")
    meta = pv.load_index(spark, path).meta
    per_cluster = np.zeros(meta["n_clusters"])
    for fs in meta.get("file_stats", []):
        for cid, cnt in fs.get("counts", []):
            per_cluster[cid] += cnt
    src_bytes = index_bytes(base) + index_bytes(extra)

    # ---- timed window ----------------------------------------------------
    walls = {"ivf": [], "sql": [], "exact": []}
    cpus = {kind: [] for kind in walls}
    trace_cpus = {kind: ([], []) for kind in walls}  # (traced, untraced) per kind
    recalls, obs_rows, obs_files, routes = [], [], [], []
    op_roots, op_parts = [], []
    seconds = run.args.seconds
    n_ops = 0
    t_start = time.perf_counter()
    block_i = 0
    while time.perf_counter() - t_start < seconds:
        qa, qb, qc, qd = (pool[(4 * block_i + j) % len(pool)] for j in range(4))
        order = list(BLOCK)
        rng.shuffle(order)
        args = {"ivf": qa, "sql": qa, "ivf_f": qb, "sql_f": qb}
        exact_q = [qc, qd]
        got = {}
        for kind in order:
            if time.perf_counter() - t_start >= seconds:
                break
            spark.catalog.clearCache()
            query = args.get(kind) or exact_q.pop()
            base_kind = kind.split("_")[0]
            # traced and untraced ops alternate within each kind
            traced = bool(run.args.trace) and len(walls[base_kind]) % 2 == 0
            tr.enabled = traced
            observation = Observation(f"obs{n_ops}") if traced and kind != "exact" else None
            result = {}

            def one():
                with Stopwatch(parts=traced) as sw, tr.span(f"op.{base_kind}") as sp:
                    if kind.startswith("ivf"):
                        ids = ivf_op(query, observation)
                    elif kind.startswith("sql"):
                        ids, df = sql_op(query, observation)
                    else:
                        ids = exact_op(query)
                result.update(cpu=sw.cpu, span=sp, parts=sw.parts)
                walls[base_kind].append(sw.wall)
                cpus[base_kind].append(sw.cpu)
                if kind == "exact":
                    return check_exact(ids, query)
                got[kind] = ids
                recalls.append(len(set(ids) & set(query.truth.tolist())) / k)
                if traced:
                    m = observed_metrics(observation, execute=False)
                    obs_rows.append(m.get("candidate_rows", 0))
                    obs_files.append(m.get("files_scanned", 0))
                    if kind.startswith("sql"):
                        routes.append(pv.vector_route(df))
                twin = {"ivf": "sql", "sql": "ivf", "ivf_f": "sql_f", "sql_f": "ivf_f"}[kind]
                if twin in got and got[twin] != ids:
                    return False
                return check_ranked(ids, query, k)

            run.op(kind, one)
            n_ops += 1
            if "cpu" in result:
                trace_cpus[base_kind][0 if traced else 1].append(result["cpu"])
                if traced:
                    op_roots.append(result["span"].id)
                    op_parts.append(result["parts"])
        block_i += 1
    window_s = time.perf_counter() - t_start
    tr.enabled = False

    recall = float(np.mean(recalls)) if recalls else 0.0
    if recall < RECALL_FLOOR:
        run.fail(f"recall@{k} {recall:.3f} below floor {RECALL_FLOOR}")
    main_cpus = cpus["ivf"] + cpus["sql"]
    all_cpus = sum(cpus.values(), [])
    e2e = {
        "setup_s": metric(setup_cpu_s, "s"),
        "op_cpu_s": metric(sum(main_cpus) / len(main_cpus) if main_cpus else 0.0, "s"),
        "items_per_cpu_s": metric(len(all_cpus) / sum(all_cpus) if all_cpus else 0.0, "1/s"),
        "recall": metric(recall, "ratio"),
    }
    main_walls = walls["ivf"] + walls["sql"]
    detail = {
        "workload": "ann_query",
        "config": cfg,
        "ops": {kind: len(v) for kind, v in walls.items()},
        "op_wall_p50_s": median(main_walls) if main_walls else None,
        "items_per_wall_s": len(all_cpus) / window_s,
        "setup_wall_s": setup_wall_s,
        "ivf_query_p50_s": median(walls["ivf"]) if walls["ivf"] else None,
        "sql_query_p50_s": median(walls["sql"]) if walls["sql"] else None,
        "exact_query_p50_s": median(walls["exact"]) if walls["exact"] else None,
        "ivf_query_cpu_s": median(cpus["ivf"]) if cpus["ivf"] else None,
        "sql_query_cpu_s": median(cpus["sql"]) if cpus["sql"] else None,
        "exact_query_cpu_s": median(cpus["exact"]) if cpus["exact"] else None,
        "setup_rep_s": [r.wall for r in reps],
        "setup_rep_cpu_s": [r.cpu for r in reps],
        "setup_warm_s": warm_sw.wall,
        "setup_warm_cpu_s": warm_sw.cpu,
        "op_walls": {kind: [round(w, 3) for w in v] for kind, v in walls.items()},
        "op_cpus": {kind: [round(w, 3) for w in v] for kind, v in cpus.items()},
        "get_spark_s": get_spark.wall,
        "get_spark_cpu_s": get_spark.cpu,
        "n_clusters": meta["n_clusters"],
        "index_bytes_ratio": index_bytes(path) / src_bytes,
        "index.build.cluster_skew": float(per_cluster.max() / per_cluster.mean()),
    }
    layers = {}
    if run.args.trace:
        tree = SpanTree(tr, attribute(tr, spark.sparkContext))
        layers = generic_layers(run, tree, op_roots, op_parts, get_spark,
                                trace_overhead(trace_cpus), reps[0])
        detail["layers"] = module_layers(tree, op_roots, obs_rows, obs_files, routes,
                                         meta, cfg, total_rows)
    return e2e, layers, detail


def module_layers(tree, op_roots, obs_rows, obs_files, routes, meta, cfg, total_rows):
    """The per-module breakdown for the detail line of a traced run: Spark
    counts and times per span name (``spans``), and the named layer
    metrics derived from them."""
    setup_roots = [s.id for s in tree.spans.values() if s.name == "setup.rep"]
    spans = {}
    for name in (
        "index.build.build_index", "index.build.sample_embeddings_to_driver",
        "index.kmeans.train_kmeans", "index.build.append_to_index",
        "plans.sql.register_indexed_table",
    ):
        spans[name] = layer_stats(tree, setup_roots, name)
    for name in (
        "index.search.load_index", "index.search.construct", "index.search.execute",
        "plans.sql.construct", "plans.sql.execute", "plans.intercept.try_intercept_topk",
        "operators.topk.construct", "operators.topk.execute",
        "functions.distance.array_distance",
    ):
        spans[name] = layer_stats(tree, op_roots, name)
    spans = {k: v for k, v in spans.items() if v}

    def get(name, stat="wall_s"):
        return spans.get(name, {}).get(stat, 0.0)

    samples = [
        sp.attrs.get("rows", 0) for sp in tree.spans.values()
        if sp.name == "index.build.sample_embeddings_to_driver"
    ]
    cand = median(obs_rows) if obs_rows else 0.0
    out = {
        "index.build.sample_s": get("index.build.sample_embeddings_to_driver"),
        "index.build.sample_rows": median(samples) if samples else 0,
        "index.build.self_s": get("index.build.build_index", "self_s"),
        "index.build.append_s": get("index.build.append_to_index"),
        "index.kmeans.train_s": get("index.kmeans.train_kmeans"),
        "index.search.load_index_s": get("index.search.load_index"),
        "index.search.construct_s": get("index.search.construct"),
        "index.search.execute_s": get("index.search.execute"),
        "index.search.candidate_rows": cand,
        "index.search.files_scanned": median(obs_files) if obs_files else 0.0,
        "index.search.prune_ratio": (cand / total_rows) / (cfg["nprobe"] / meta["n_clusters"]),
        "plans.sql.pq_sql_s": get("plans.sql.construct"),
        "plans.sql.execute_s": get("plans.sql.execute"),
        "plans.intercept.hit_ratio": (
            sum(r == "ivf" for r in routes) / len(routes) if routes else 0.0
        ),
        "operators.topk.construct_s": get("operators.topk.construct"),
        "operators.topk.execute_s": get("operators.topk.execute"),
        "spans": spans,
    }
    if get("operators.topk.execute"):
        out["functions.distance.exact_rows_per_s"] = total_rows / get("operators.topk.execute")
    if get("index.search.execute"):
        out["functions.distance.indexed_rows_per_s"] = cand / get("index.search.execute")
    return out
