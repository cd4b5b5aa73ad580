"""IVF index build — the Spark-native realization of the reference's
``IndexBuilder`` (reference: src/ivf/parquet.rs:22-103, lifecycle §3.1).

The reference appends the serialized index *inside* the Parquet file and
rewrites the footer (src/ivf/parquet.rs:542-611). Spark cannot (and should
not, at many-files scale) mutate Parquet files, so the capability contract
— "an indexed table is still a plain Parquet table readable by anything,
with no external index service" — is realized as:

  out_path/                      plain parquet, + a materialized cluster_id
    part-*.parquet               column, repartitioned RANGE(cluster_id) and
    _pq_index/                   sorted within partitions so Parquet
      centroids/  (parquet)      row-group min/max stats make the
      meta/       (json)         cluster filter prune I/O (≙ the
                                 ParquetAccessPlan row-group skipping in
                                 src/df_vector/access.rs:123-147)

Scale notes (100 TB): only the ≤100k-row training sample is ever collected;
centroids broadcast (n_clusters×dim f32 ≈ MBs); assignment is one
map-side pandas UDF pass (Arrow-batched numpy argmin); the single shuffle is
the range repartition by cluster_id, which is also what gives the layout its
pruning power. Nothing is quadratic in rows.
"""

from __future__ import annotations

import json
import math
import os
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from pq_vector_spark.index.kmeans import train_kmeans
from pq_vector_spark.schema import infer_vector_column, validate_vector_column, VectorSchemaError
from pq_vector_spark.session import IndexBuildOptions

INDEX_DIR = "_pq_index"
CLUSTER_COL = "_pq_cluster_id"


def default_n_clusters(n_rows: int) -> int:
    """ceil(sqrt(n)) ≙ src/ivf/index.rs:161-167."""
    return max(1, math.ceil(math.sqrt(n_rows)))


def _sample_size(n_rows: int, n_clusters: int, cap: int) -> int:
    """max(5% of rows, n_clusters) capped at 100k ≙ src/ivf/index.rs:172-174."""
    return min(max(n_rows // 20, n_clusters, 1), cap)


def sample_embeddings_to_driver(
    df: DataFrame, column: str, target: int, n_rows: int, seed: int
) -> np.ndarray:
    """Seeded uniform sample collected to the driver (≙ src/ivf/index.rs:222-242).

    Over-samples by 20% then truncates so one pass suffices; only `target`
    (≤100k) vectors ever leave the executors.

    r17 (guide §6 "Arrow for driver transfers"): rows land via Arrow
    ``toPandas`` instead of the pickled-row ``collect`` — measured 7.3 s
    → 2.4 s for the 50k×256 semantic-fit sample, and the float values
    (hence the float32 matrix, hence every downstream centroid) are
    bit-identical: Arrow carries the exact same doubles in the same
    partition-concatenation order. A type Arrow cannot carry takes Spark's
    own non-Arrow ``toPandas`` (``spark.sql.execution.arrow.pyspark.
    fallback.enabled``, on by default).
    """

    def _fetch(sel) -> np.ndarray:
        vals = sel.toPandas()[column].to_numpy()
        return np.asarray(list(vals), dtype=np.float32)

    if target >= n_rows:
        out = _fetch(df.select(column))
    else:
        frac = min(1.0, (target / n_rows) * 1.2 + 1e-6)
        out = _fetch(
            df.select(column).sample(fraction=frac, seed=seed).limit(target)
        )
        # Rare undersample: RETRY the seeded sample at a doubled fraction
        # (derived seed) rather than an unordered limit() — limit without
        # ordering is nondeterministic and biased toward the first files,
        # which would break the seeded-reproducible-build guarantee.
        attempt = 1
        while len(out) < min(target, n_rows) and frac < 1.0:
            frac = min(1.0, frac * 2)
            out = _fetch(
                df.select(column)
                .sample(fraction=frac, seed=seed + attempt)
                .limit(target)
            )
            attempt += 1
    return out


def assign_clusters(df: DataFrame, column: str, centroids: np.ndarray) -> DataFrame:
    """Nearest-centroid assignment ≙ src/ivf/index.rs:189-206.

    Broadcast centroids + Arrow-batched pandas UDF doing a vectorized
    matrix argmin — the distributed analogue of the reference's per-thread
    parallel assignment loop. Adds CLUSTER_COL.
    """
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(centroids, dtype=np.float32))

    @F.pandas_udf(IntegerType())
    def _nearest(v: pd.Series) -> pd.Series:
        cents = bc.value
        c_norm2 = (cents.astype(np.float64) ** 2).sum(axis=1).astype(np.float32)
        mat = np.stack(v.to_numpy()).astype(np.float32)
        # argmin over −2x·c + ‖c‖² (‖x‖² constant per row); float32 end-to-end
        # — workers may lack optimized BLAS, and f64 doubles the cost
        d2 = -2.0 * (mat @ cents.T)
        d2 += c_norm2[None, :]
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    return df.withColumn(CLUSTER_COL, _nearest(F.col(column).cast("array<float>")))


PROBE_COL = "_pq_probe"


def probe_clusters(df: DataFrame, column: str, centroids: np.ndarray, nprobe: int) -> DataFrame:
    """Distributed coarse-quantizer probe: the ``nprobe`` nearest centroid
    ids for EVERY row, as an ``array<int>`` column (``PROBE_COL``).

    The multi-probe generalization of :func:`assign_clusters` — broadcast
    centroids + one Arrow-batched pandas-UDF matmul pass; no data is ever
    collected to the driver (≙ the reference probing each query against all
    centroids, src/ivf/index.rs:130-149, but map-side over a whole DataFrame
    of queries). ``explode(PROBE_COL)`` then feeds cluster-equi-joins.
    """
    from pyspark.sql.types import ArrayType

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(centroids, dtype=np.float32))
    nprobe = int(nprobe)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _probe(v: pd.Series) -> pd.Series:
        from pq_vector_spark.index.kmeans import nearest_centroids_batch

        mat = np.stack(v.to_numpy()).astype(np.float32)
        order = nearest_centroids_batch(mat, bc.value, nprobe)
        return pd.Series([row.astype(np.int32) for row in order])

    return df.withColumn(PROBE_COL, _probe(F.col(column).cast("array<float>")))


def build_index(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    column: Optional[str] = None,
    options: Optional[IndexBuildOptions] = None,
) -> dict:
    """Build an IVF-indexed copy of a Parquet table.

    ≙ reference ``IndexBuilder::build_new`` (src/ivf/parquet.rs:71-86,
    316-377): a full rewrite that preserves the data and adds the index —
    here as a cluster-clustered layout + sidecar, not footer surgery
    (``build_inplace``'s footer rewrite has no Spark analogue; SURVEY §1.5).

    Returns the meta dict that was persisted.
    """
    opts = options or IndexBuildOptions()
    # The assignment pass is compute-bound (argmin over centroids) — make
    # sure a source of few big files still splits across all cores by
    # tightening the scan split size for the duration of the build.
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
    try:
        return _build_index_inner(spark, source_path, out_path, column, opts)
    finally:
        if prev_split is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
        else:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")


def append_to_index(
    spark: SparkSession,
    new_source,
    indexed_path: str,
) -> dict:
    """Append new rows to an EXISTING indexed layout without retraining —
    the Spark-idiomatic realization of the reference's in-place append
    (``IndexBuilder::build_inplace`` appending to an already-indexed file,
    src/ivf/parquet.rs:88-103: the trained quantizer is reused, new rows
    are assigned and merged into the inverted lists).

    ``new_source`` is a DataFrame or a parquet path with the same schema as
    the original source (no ``_pq_cluster_id``). New rows are assigned to
    the EXISTING centroids, written as additional cluster-sorted part-files
    into the same directory (mode=append — existing files are never
    touched, concurrent readers keep working), and the sidecar is refreshed
    (row_count, file_stats; per-file cluster counts are computed for the
    NEW files only and merged with the stored counts, so the refresh scans
    just the appended data).

    Index quality note (same trade as the reference): appended data shifts
    the true cluster structure; after heavy growth, rebuild with
    ``build_index`` to retrain. Recall for probed queries degrades
    gracefully — assignment still routes every new row to its nearest
    existing centroid.

    Concurrency contract: appends must be QUIESCED while
    ``auto_rebuild_if_stale`` runs — the rebuild reads the live layout,
    retrains, and swaps directories, so rows appended after its read would
    be deleted with the retired layout. The rebuild holds a
    ``_pq_index/REBUILDING`` sentinel for its duration; this function
    raises while the sentinel exists instead of silently losing the rows.

    Returns the refreshed meta dict.
    """
    from pq_vector_spark.index.search import IndexError_, load_index

    if _rebuild_sentinel_exists(spark, indexed_path):
        raise IOError(
            f"append refused: a rebuild is in progress for {indexed_path} "
            f"({INDEX_DIR}/{REBUILD_SENTINEL} exists) and its directory "
            "swap would DELETE rows appended now. Retry after the rebuild; "
            "if a crashed rebuild left the sentinel behind, delete the "
            "file to clear it."
        )
    # use_cache=False: this read SEEDS the sidecar rewrite (row_count +=
    # appended). The cache's (mtime, size) probe is ms-granular on Hadoop
    # stores — a same-size rewrite inside one tick could serve stale meta
    # here and persist an UNDERCOUNTED row_count; mutating paths read
    # storage truth.
    idx = load_index(spark, indexed_path, use_cache=False)
    meta = dict(idx.meta)
    meta.pop("counts_sec", None)
    column = meta["column"]
    df = (
        spark.read.parquet(new_source)
        if isinstance(new_source, str)
        else new_source
    )
    if CLUSTER_COL in df.columns:
        raise VectorSchemaError(
            f"new data already has a {CLUSTER_COL} column — pass the raw table"
        )
    stats = validate_vector_column(df, column)
    if int(stats.dim) != int(meta["dim"]):
        raise IndexError_(
            f"append dim {stats.dim} does not match index dim {meta['dim']}"
        )
    if dict(df.dtypes).get(column) == "array<double>":
        df = df.withColumn(column, F.col(column).cast("array<float>"))
    existing_cols = [
        c for c in spark.read.parquet(indexed_path).columns if c != CLUSTER_COL
    ]
    if set(df.columns) != set(existing_cols):
        raise VectorSchemaError(
            f"append schema {sorted(df.columns)} does not match indexed table "
            f"{sorted(existing_cols)}"
        )
    df = df.select(*existing_cols)

    assigned = assign_clusters(df, column, idx.centroids)
    n_clusters = int(meta["n_clusters"])
    rows_per_part = max(1, (128 << 20) // max(1, stats.dim * 4))
    n_part = max(1, min(n_clusters, -(-stats.rows // rows_per_part), 2048))
    cluster_bytes = max(1, stats.rows // n_clusters) * stats.dim * 4
    block_size = min(max(cluster_bytes, 1 << 20), 128 << 20)
    (
        assigned.repartition(n_part, F.col(CLUSTER_COL))
        .sortWithinPartitions(CLUSTER_COL)
        .write.mode("append")
        .option("parquet.block.size", str(block_size))
        .parquet(indexed_path)
    )

    meta["row_count"] = int(meta["row_count"]) + int(stats.rows)
    # staleness accounting for index_health: rows the quantizer never saw
    meta["appended_rows"] = int(meta.get("appended_rows", 0)) + int(stats.rows)
    old_counts = {
        fs_["file"]: fs_.get("counts")
        for fs_ in idx.meta.get("file_stats", []) or []
    }
    file_stats = _collect_file_stats(spark, indexed_path)
    if file_stats is not None:
        new_names = [fs_["file"] for fs_ in file_stats if fs_["file"] not in old_counts]
        if old_counts and all(c is not None for c in old_counts.values()):
            counts = _collect_cluster_counts(spark, indexed_path, files=new_names)
        else:
            # legacy sidecar without stored counts → one full recount
            counts = _collect_cluster_counts(spark, indexed_path)
        for fs_ in file_stats:
            if fs_["file"] in counts:
                fs_["counts"] = counts[fs_["file"]]
            elif old_counts.get(fs_["file"]) is not None:
                fs_["counts"] = old_counts[fs_["file"]]
        meta["file_stats"] = file_stats
        meta["n_files"] = len(file_stats)
    else:
        meta.pop("file_stats", None)
    _write_sidecar(spark, indexed_path, idx.centroids, meta)
    # a view registered over the layout lists the files it had then
    from pq_vector_spark.plans.intercept import refresh_indexed_tables

    refresh_indexed_tables(spark, indexed_path)
    # how many rows THIS call appended — returned (not persisted) so hot
    # callers (streaming ingest) don't pay a second sidecar read for it
    return {**meta, "last_append_rows": int(stats.rows)}


def _build_index_inner(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    column: Optional[str],
    opts: IndexBuildOptions,
) -> dict:
    df = spark.read.parquet(source_path)
    if column is None:
        column = infer_vector_column(df)
    stats = validate_vector_column(df, column)
    if dict(df.dtypes).get(column) == "array<double>":
        # f64 → f32 narrowing at build, matching the reference's scan-time
        # narrowing (src/ivf/parquet.rs:287-291): the index layout stores
        # float32, so distances at query time run on the same grid as the
        # reference regardless of the input's precision.
        df = df.withColumn(column, F.col(column).cast("array<float>"))

    n_clusters = opts.n_clusters or default_n_clusters(stats.rows)
    if n_clusters <= 0:
        raise VectorSchemaError("n_clusters must be > 0")
    if n_clusters > stats.rows:
        # ≙ src/ivf/index.rs:168-170
        raise VectorSchemaError(
            f"n_clusters ({n_clusters}) cannot exceed row count ({stats.rows})"
        )

    target = _sample_size(stats.rows, n_clusters, opts.sample_cap)
    sample = sample_embeddings_to_driver(df, column, target, stats.rows, opts.seed)
    centroids = train_kmeans(sample, n_clusters, max_iters=opts.max_iters, seed=opts.seed)

    assigned = assign_clusters(df, column, centroids)

    # Hash partition + in-partition sort on cluster_id: each cluster lands
    # whole in one file, sorted ⇒ contiguous, so row-group min/max stats make
    # the cluster_id IN (...) probe filter prune files AND row groups at read
    # time. Hash (not range) partitioning avoids repartitionByRange's extra
    # range-boundary sampling job, which would run the pandas-UDF assignment
    # pass twice over the full table. Partition count targets ~128 MB of
    # vector payload per output file (scales with data volume, capped so the
    # shuffle never explodes; never more partitions than clusters).
    rows_per_part = max(1, (128 << 20) // max(1, stats.dim * 4))
    n_part = max(1, min(n_clusters, -(-stats.rows // rows_per_part), 2048))
    # Row-group granularity IS pruning granularity (≙ the reference's
    # row-group skipping, src/df_vector/access.rs:123-147): size parquet row
    # groups near one cluster's payload so the min/max stats of the sorted
    # cluster column prune tightly. Clamp to [1 MB, 128 MB].
    cluster_bytes = max(1, stats.rows // n_clusters) * stats.dim * 4
    block_size = min(max(cluster_bytes, 1 << 20), 128 << 20)
    (
        assigned.repartition(n_part, F.col(CLUSTER_COL))
        .sortWithinPartitions(CLUSTER_COL)
        .write.mode("overwrite")
        .option("parquet.block.size", str(block_size))
        .parquet(out_path)
    )

    meta = {
        "format": "pq_vector_spark/ivf-v1",
        "column": column,
        "dim": int(stats.dim),
        "n_clusters": int(n_clusters),
        "max_iters": int(opts.max_iters),
        "seed": int(opts.seed),
        "row_count": int(stats.rows),
        "cluster_col": CLUSTER_COL,
        "n_files": int(n_part),
    }
    file_stats = _collect_file_stats(spark, out_path)
    if file_stats is not None:
        # per-file row-group [min,max] ranges of the cluster column — driver
        # metadata that lets the query path count candidate files with ZERO
        # extra Spark jobs (≙ the ParquetAccessPlan's row-group inventory,
        # src/df_vector/access.rs:123-147)
        meta["file_stats"] = file_stats
        # per-file per-cluster row counts (one column-pruned aggregate job,
        # result ≈ n_clusters rows): lets the query path compute EXACT
        # round-robin candidate-cap quotas on the driver with zero jobs
        # (≙ the reference's cursor totals, src/df_vector/access.rs:193-243)
        import time as _time

        t_counts = _time.time()
        counts = _collect_cluster_counts(spark, out_path)
        counts_sec = round(_time.time() - t_counts, 3)
        for fs_ in file_stats:
            fs_["counts"] = counts.get(fs_["file"], [])
    else:
        counts_sec = None
    _write_sidecar(spark, out_path, centroids, meta)
    if counts_sec is not None:
        # diagnostic only (added AFTER the sidecar write so it is never
        # persisted): lets bench.py attribute the extra aggregation job's
        # share of the total build time
        meta["counts_sec"] = counts_sec
    return meta


def _collect_cluster_counts(
    spark: SparkSession, out_path: str, files: Optional[list] = None
) -> dict:
    """Per-file per-cluster row counts of the written layout, as
    ``{basename: [[cluster_id, n], ...]}``. One distributed aggregation over
    the cluster column only (column-pruned scan, map-side combine); the
    collected result is ~n_clusters rows of three ints — driver-safe at any
    table size. ``files`` (basenames) restricts the scan to just those
    part-files — the incremental-append path counts only the NEW files."""
    if files is not None:
        if not files:
            return {}
        src = spark.read.parquet(*[f"{out_path.rstrip('/')}/{f}" for f in files])
    else:
        src = spark.read.parquet(out_path)
    rows = (
        src
        .groupBy(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
            F.col(CLUSTER_COL).alias("cid"),
        )
        .count()
        .collect()
    )
    per: dict = {}
    for r in rows:
        per.setdefault(r["file"], []).append([int(r["cid"]), int(r["count"])])
    return {f: sorted(v) for f, v in per.items()}


def _file_stats_from_metadata(md, basename: str):
    """Row-group [min,max] ranges of CLUSTER_COL from one parquet footer."""
    try:
        col_idx = md.schema.names.index(CLUSTER_COL)
    except ValueError:
        return None
    groups = []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(col_idx).statistics
        if st is None or st.min is None:
            return None
        groups.append([int(st.min), int(st.max)])
    return {"file": basename, "groups": groups}


def _collect_file_stats(spark: SparkSession, out_path: str):
    """Per-part-file row-group [min, max] ranges of CLUSTER_COL, read from
    the parquet footers on the driver through the Hadoop FileSystem API
    with a ranged reader (footer-sized I/O only, zero Spark jobs), for a
    local path and any other Hadoop-compatible URL alike, ≙ the
    reference's any-object-store footer reads (src/ivf/parquet.rs:176-208).
    Tiny: n_files × n_row_groups × 2 ints. None when a footer lacks the
    statistics or cannot be read."""
    import pyarrow.parquet as pq

    try:
        stats = []
        for fp in sorted(_hadoop_glob(spark, f"{out_path}/part-*.parquet")):
            with _HadoopReadableFile(spark, fp) as f:
                md = pq.ParquetFile(f).metadata
            s = _file_stats_from_metadata(md, fp.rsplit("/", 1)[-1])
            if s is None:
                return None
            stats.append(s)
        return stats or None
    except Exception:
        return None


def _centroids_table(centroids: np.ndarray):
    import pyarrow as pa

    return pa.table(
        {
            "cluster_id": pa.array(range(len(centroids)), type=pa.int32()),
            "centroid": pa.array(
                [c.tolist() for c in centroids], type=pa.list_(pa.float32())
            ),
        }
    )


def _write_sidecar(spark: SparkSession, out_path: str, centroids: np.ndarray, meta: dict) -> None:
    """Persist the sidecar (centroids parquet + meta json). The sidecar is
    tiny (≤100k × dim floats), so it is ALWAYS written from the driver
    through the Hadoop FileSystem byte stream, zero Spark jobs (two jobs
    just for the sidecar would dominate small builds). The layout matches
    what ``search._load_sidecar`` reads:
    ``_pq_index/centroids/*.parquet`` + ``_pq_index/meta/part-*``.
    """
    import io

    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(_centroids_table(centroids), buf)
    _hadoop_write_bytes(
        spark, f"{out_path}/{INDEX_DIR}/centroids/part-00000.parquet", buf.getvalue()
    )
    _write_text(spark, f"{out_path}/{INDEX_DIR}/meta/part-00000", json.dumps(meta) + "\n")


# Every read, write, glob, stat, rename and delete of index metadata (the
# IVF sidecar, codes registrations, rebuild sentinels, streaming markers and
# buffers) goes through the helpers below. Hadoop's FileSystem serves local
# paths and file:// as well as hdfs://, s3a://, ..., so there is one code
# path for every store, as the reference reaches its index through one
# object-store abstraction (src/df_vector/access.rs:30-33). Failures raise:
# an unreachable filesystem never reads as "no index".


def _jfs(spark: SparkSession, path: str):
    """The Hadoop ``Path`` of ``path`` and the FileSystem that serves it."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _hadoop_glob(spark: SparkSession, pattern: str) -> list:
    """Qualified paths matching a glob pattern; [] when nothing matches."""
    jpath, fs = _jfs(spark, pattern)
    statuses = fs.globStatus(jpath)
    if statuses is None:
        return []
    return [s.getPath().toString() for s in statuses]


def _hadoop_exists(spark: SparkSession, path: str) -> bool:
    jpath, fs = _jfs(spark, path)
    return bool(fs.exists(jpath))


def _hadoop_stat(spark: SparkSession, path: str):
    """``(modification time in ms, length)`` of one file, or None when it
    does not exist."""
    from py4j.protocol import Py4JJavaError

    jpath, fs = _jfs(spark, path)
    try:
        st = fs.getFileStatus(jpath)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() == "java.io.FileNotFoundException":
            return None
        raise
    return int(st.getModificationTime()), int(st.getLen())


def _hadoop_delete(spark: SparkSession, path: str, *, recursive: bool) -> bool:
    """Delete a file or directory; False when there was nothing to delete."""
    jpath, fs = _jfs(spark, path)
    return bool(fs.delete(jpath, recursive))


def _hadoop_rename(spark: SparkSession, src: str, dst: str) -> bool:
    """``FileSystem.rename``, which reports failure (destination exists,
    parent missing, transient store error) by returning False, not by
    raising, so callers must check the result."""
    jsrc, fs = _jfs(spark, src)
    return bool(fs.rename(jsrc, spark._jvm.org.apache.hadoop.fs.Path(dst)))


def _hadoop_read_bytes(spark: SparkSession, path: str) -> bytes:
    """Read one (small) file fully."""
    jpath, fs = _jfs(spark, path)
    stream = fs.open(jpath)
    try:
        return bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def _hadoop_write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Write (or overwrite) one (small) file from the driver, zero Spark
    jobs; ``create`` makes parent directories like the object-store writers
    the reference builds on (src/ivf/parquet.rs:542-611)."""
    jpath, fs = _jfs(spark, path)
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()


def _read_text(spark: SparkSession, path: str) -> str:
    """Read one small UTF-8 file (sidecar metas, markers). Raises on an
    unreadable or missing file."""
    return _hadoop_read_bytes(spark, path).decode("utf-8")


def _write_text(spark: SparkSession, path: str, body: str) -> None:
    """Write one small UTF-8 file, parents created."""
    _hadoop_write_bytes(spark, path, body.encode("utf-8"))


class _HadoopReadableFile:
    """Minimal seekable read-only file over the JVM Hadoop FileSystem —
    just enough surface (read/seek/tell/closed) for pyarrow's parquet
    footer reader. Every ``read`` is one JVM round-trip, so callers should
    read footers (a handful of KB-sized ranged reads), never data pages."""

    def __init__(self, spark: SparkSession, path: str):
        self._jvm = spark._jvm
        jpath, fs = _jfs(spark, path)
        self._size = int(fs.getFileStatus(jpath).getLen())
        self._stream = fs.open(jpath)
        self._pos = 0
        self.closed = False

    def size(self) -> int:
        return self._size

    def tell(self) -> int:
        return self._pos

    def seekable(self) -> bool:
        return True

    def readable(self) -> bool:
        return True

    def seek(self, pos: int, whence: int = 0) -> int:
        if whence == 1:
            pos = self._pos + pos
        elif whence == 2:
            pos = self._size + pos
        self._pos = max(0, int(pos))
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._size - self._pos
        n = max(0, min(int(n), self._size - self._pos))
        if n == 0:
            return b""
        self._stream.seek(self._pos)
        bounded = self._jvm.org.apache.commons.io.input.BoundedInputStream(
            self._stream, n
        )
        data = bytes(self._jvm.org.apache.commons.io.IOUtils.toByteArray(bounded))
        self._pos += len(data)
        return data

    def close(self) -> None:
        if not self.closed:
            self._stream.close()
            self.closed = True

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def has_index(path: str, spark: Optional[SparkSession] = None) -> bool:
    """≙ reference ``has_pq_vector_index`` footer probe
    (src/ivf/parquet.rs:176-189) — here: does the sidecar exist?

    Probes through the Hadoop FileSystem API of ``spark``, or of the active
    session when none is passed, for local paths too, so a session is
    required. An unreachable filesystem RAISES — a probe failure must
    never silently degrade an indexed query to brute force.
    """
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise ValueError(f"probing {path} for an index needs a SparkSession (pass spark=)")
    return bool(
        _hadoop_glob(spark, f"{path}/{INDEX_DIR}/meta/part-*")
        and _hadoop_glob(spark, f"{path}/{INDEX_DIR}/centroids/*.parquet")
    )


def index_health(spark: SparkSession, indexed_path: str, *, stale_threshold: float = 0.2) -> dict:
    """Index staleness probe — how much of the table the trained quantizer
    has never seen (``append_to_index`` reuses the original centroids, so
    recall decays as appended mass grows; the reference accepts the same
    drift, src/ivf/index.rs:189-206, but gives operators no gauge).

    Zero Spark jobs: everything comes from the sidecar. Returns
    ``row_count``, ``appended_rows``, ``appended_fraction``,
    ``n_clusters``, ``n_files``, and ``stale`` (fraction ≥ threshold —
    the "rebuild me" signal; 0.2 default ≈ where the bench's measured
    append-recall starts moving at nprobe < n_clusters).
    """
    from pq_vector_spark.index.search import load_index

    idx = load_index(spark, indexed_path)
    total = int(idx.meta["row_count"])
    appended = int(idx.meta.get("appended_rows", 0))
    frac = (appended / total) if total else 0.0
    return {
        "row_count": total,
        "appended_rows": appended,
        "appended_fraction": round(frac, 6),
        "n_clusters": int(idx.meta["n_clusters"]),
        "n_files": int(idx.meta.get("n_files", 0)),
        "stale": frac >= stale_threshold,
    }


def _swap_dirs(spark: SparkSession, live: str, fresh: str) -> None:
    """Atomically-ish replace directory ``live`` with ``fresh`` by two
    FileSystem renames. The old layout is moved aside first and deleted
    only after the new one is in place, so a crash leaves either the old or
    the new complete layout on disk."""
    live = live.rstrip("/")
    retired = live + ".retired"
    _hadoop_delete(spark, retired, recursive=True)
    # Unchecked, a failed first rename makes the swap a silent no-op, and a
    # failed second rename followed by the delete would destroy the only
    # remaining copy of the layout. Check both; roll back on the second.
    if not _hadoop_rename(spark, live, retired):
        raise IOError(f"swap failed: could not retire {live} -> {retired}")
    if not _hadoop_rename(spark, fresh, live):
        _hadoop_rename(spark, retired, live)  # restore the retired layout before raising
        raise IOError(f"swap failed: could not move {fresh} -> {live}")
    _hadoop_delete(spark, retired, recursive=True)


REBUILD_SENTINEL = "REBUILDING"


def _sentinel_path(indexed_path: str) -> str:
    return f"{indexed_path.rstrip('/')}/{INDEX_DIR}/{REBUILD_SENTINEL}"


def _rebuild_sentinel_exists(spark: SparkSession, indexed_path: str) -> bool:
    return _hadoop_exists(spark, _sentinel_path(indexed_path))


def _acquire_rebuild_sentinel(spark: SparkSession, indexed_path: str) -> None:
    """Create ``_pq_index/REBUILDING`` inside the live layout; raise if one
    is already there (two rebuilds racing, or a crashed rebuild left it
    behind — the sentinel body records when/who for the operator deciding
    whether to delete it). Check-then-create is NOT atomic on object
    stores; the sentinel makes the append/rebuild race LOUD, it is not a
    distributed lock."""
    if _rebuild_sentinel_exists(spark, indexed_path):
        raise IOError(
            f"rebuild already in progress for {indexed_path} "
            f"({INDEX_DIR}/{REBUILD_SENTINEL} exists). If no rebuild is "
            "actually running, a crashed rebuild left the sentinel behind — "
            "delete the file to clear it."
        )
    import time as _time

    body = json.dumps({"started_unix": _time.time(), "pid": os.getpid()})
    _write_text(spark, _sentinel_path(indexed_path), body + "\n")


def _release_rebuild_sentinel(spark: SparkSession, indexed_path: str) -> None:
    """Delete the sentinel; tolerates a missing one (after a successful
    swap it vanished with the retired directory)."""
    _hadoop_delete(spark, _sentinel_path(indexed_path), recursive=False)


def auto_rebuild_if_stale(
    spark: SparkSession,
    indexed_path: str,
    *,
    stale_threshold: float = 0.2,
    options: Optional[IndexBuildOptions] = None,
) -> dict:
    """Consume ``index_health``: when appended mass (rows the trained
    quantizer never saw — ``append_to_index`` reuses the original
    centroids) pushes staleness past ``stale_threshold``, retrain over the
    FULL current table and swap in the fresh cluster-sorted layout +
    sidecar. The reference accepts the same recall drift silently
    (src/ivf/index.rs:189-206); this is the operator loop that closes it.

    Mechanics: ``build_index`` reads the live layout itself (the stale
    cluster column is simply re-assigned), writes the fresh layout to
    ``<path>.rebuild``, then the directories swap — readers in flight keep
    their already-opened files; new readers see the fresh layout. Default
    ``n_clusters`` re-derives as ceil(sqrt(total rows)), so a table that
    grew 10× also gets a proportionally deeper quantizer.

    If a PQ codes sidecar is registered for this layout
    (``plans/intercept.register_codes_sidecar``), it is re-encoded against
    the fresh cluster assignment with its existing codebook — otherwise the
    codes table's cluster ids would silently mismatch the new layout.

    Concurrency contract: ``append_to_index`` calls must be QUIESCED for
    the duration — the rebuild reads the live layout, retrains, and swaps
    directories, so rows appended after its read would vanish with the
    retired layout. Three guards make the race loud instead of lossy: a
    ``_pq_index/REBUILDING`` sentinel held for the rebuild's duration
    (``append_to_index`` raises while it exists; NOT an atomic lock — an
    append that passed its check before the sentinel landed can still slip
    through), a pre-swap verify of BOTH the live sidecar's row count AND
    the live layout's actual parquet row count (so an append whose data
    files landed but whose sidecar write hadn't yet still aborts the
    swap), and this docstring. A crashed rebuild can leave the sentinel
    behind; the error message tells the operator to delete it.

    Returns ``{"rebuilt": bool, "health": <pre-check>, "meta": <new meta
    or None>}``. Zero Spark jobs when healthy (the health probe is
    sidecar-only).
    """
    health = index_health(spark, indexed_path, stale_threshold=stale_threshold)
    if not health["stale"]:
        return {"rebuilt": False, "health": health, "meta": None}
    from pq_vector_spark.index.search import load_index

    column = load_index(spark, indexed_path).meta["column"]

    # resolve any codes-sidecar registration BEFORE the swap: the persisted
    # copy (_pq_index/codes.json) lives inside the OLD layout, which the
    # swap deletes — a fresh session's rebuild must still find it.
    # force_probe: a cached "no registration" miss (<TTL old) must not be
    # trusted on this DESTRUCTIVE path — another process may have persisted
    # a registration since, and swapping on the stale miss would delete it
    from pq_vector_spark.plans import intercept as _icpt

    sidecar = _icpt._lookup_codes_sidecar(spark, indexed_path, force_probe=True)

    fresh = indexed_path.rstrip("/") + ".rebuild"
    _acquire_rebuild_sentinel(spark, indexed_path)
    try:
        meta = build_index(
            spark, indexed_path, fresh, column=column, options=options
        )
        # pre-swap verification: if an in-flight append finished after the
        # rebuild's read (it started before the sentinel landed), swapping
        # now would DELETE its rows with the retired layout — abort loudly
        # instead. Two probes, because an append writes DATA first and its
        # sidecar second: the sidecar row count catches a fully-completed
        # append cheaply, and the live DATA count catches the r10 residual
        # window — an append whose part-files landed but whose sidecar
        # write hadn't yet (that append was invisible to the sidecar probe
        # and its rows silently vanished). The data probe is a zero-column
        # parquet count — O(files) footer metadata, trivial next to the
        # retrain that just rewrote the whole layout.
        live_rows = int(
            load_index(spark, indexed_path, use_cache=False).meta["row_count"]
        )
        live_data_rows = int(spark.read.parquet(indexed_path).count())
        if live_rows != int(meta["row_count"]) or live_data_rows != int(
            meta["row_count"]
        ):
            raise IOError(
                f"concurrent append detected during rebuild of "
                f"{indexed_path}: live layout now has {live_rows} sidecar / "
                f"{live_data_rows} data rows but the rebuilt layout captured "
                f"{meta['row_count']}. Swap aborted — quiesce appends and "
                "rerun the rebuild."
            )
        _swap_dirs(spark, indexed_path, fresh)
    except BaseException:
        # drop the partial fresh layout; never leave .rebuild debris, and
        # never let a failed cleanup mask the error being raised
        try:
            _hadoop_delete(spark, fresh, recursive=True)
        except Exception:
            pass
        raise
    finally:
        # after a successful swap the sentinel vanished with the retired
        # directory; on failure this clears it so appends resume
        _release_rebuild_sentinel(spark, indexed_path)
    # a view registered over the layout lists the retired directory's files
    _icpt.refresh_indexed_tables(spark, indexed_path)

    if sidecar is not None:
        from pq_vector_spark.index.pq import encode_indexed

        codes_path, codebook, id_col, _ = sidecar
        encode_indexed(spark, indexed_path, codes_path, column, id_col, codebook)
        # re-register so the route's staleness guard records the REBUILT
        # row count (the registration-time count is now outdated)
        _icpt.register_codes_sidecar(
            indexed_path, codes_path, codebook, id_col, spark=spark
        )
    return {"rebuilt": True, "health": health, "meta": meta}
