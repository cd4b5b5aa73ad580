"""Continuous corpus ingestion — a Structured Streaming composition of the
engine's incremental primitives: each micro-batch of incoming documents is
deduped against the standing corpus (``operators/dedup.incremental_dedup``)
and only the surviving rows are appended.

This is the streaming half of the incremental contract whose batch halves
are ``incremental_dedup`` (text) and ``index/build.append_to_index``
(vectors): a 100 TB corpus ingests a nightly/continuous crawl without ever
re-shuffling itself.

Scale design:
- Per micro-batch cost is delta-bounded: the batch's fingerprints
  broadcast as a map-side semi-join probe over the corpus scan; the only
  exchange is the within-batch survivor window (batch-sized).
- ``foreachBatch`` is the right tool (not a stateful operator): the
  standing corpus is the state, and it already lives in storage — holding
  a fingerprint set in stream state would duplicate the corpus into the
  state store and grow without bound.
- The corpus re-scan per batch reads only the fingerprint column
  (column-pruned); on a real deployment the corpus path is date/shard
  partitioned so the probe prunes partitions too. Exactly-once: file
  sink appends + checkpointed offsets give effectively-once appends
  (Spark's standard foreachBatch contract — make the write idempotent by
  batch id if the sink demands it).
"""

from __future__ import annotations

import json
import logging
import os
import uuid
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pq_vector_spark.operators.dedup import incremental_dedup

_LOG = logging.getLogger("pq_vector_spark.streaming.ingest")


def dedup_append_batch(
    batch_df: DataFrame,
    corpus_path: str,
    text_col: str,
    id_col: str,
    *,
    near_index: Optional[str] = None,
    near_threshold: float = 0.5,
) -> int:
    """Apply one micro-batch: dedup against (and within) the corpus at
    ``corpus_path``, append survivors. Returns the number appended.
    Usable directly for batch backfills; ``streaming_ingest`` wires it
    into foreachBatch.

    ``near_index`` (a ``build_dedup_index`` layout) upgrades the batch
    from exact-only to exact + NEAR dedup: after the fingerprint pass,
    survivors probe the corpus's persisted LSH index
    (``incremental_dedup_near`` — band keys broadcast, corpus text read
    only for verified candidates at jaccard ≥ ``near_threshold``), and the
    admitted rows' signatures are APPENDED to the index so the next batch
    near-dedups against them too. Exact runs first: byte-identical copies
    are cheaper to kill by fingerprint, and they are the degenerate LSH
    buckets the near probe caps away."""
    from pq_vector_spark.operators.dedup import (
        append_dedup_index,
        incremental_dedup_near,
    )

    spark = batch_df.sparkSession
    corpus = spark.read.parquet(corpus_path)
    fresh = incremental_dedup(corpus, batch_df, text_col, id_col)
    if near_index is None:
        # Two actions on `fresh` (count + write) would re-run the probe;
        # persist the delta-bounded survivors instead.
        fresh = fresh.persist()
        try:
            n = fresh.count()
            if n:
                fresh.write.mode("append").parquet(corpus_path)
        finally:
            fresh.unpersist()
        return n
    # Near path. Persist the exact-dedup survivors FIRST: the near probe
    # references them five ways (band keys, minhash signature, shingle
    # arrays, and the final anti-join), and each would otherwise re-run
    # the corpus fingerprint scan. `caches` collects every frame the probe
    # persists so this batch releases them after its one action — a
    # long-running stream must not leak one cached-relation set per batch.
    caches: list = [fresh.persist()]
    fresh = caches[0]
    survivors = incremental_dedup_near(
        spark,
        near_index,
        fresh,
        text_col,
        id_col,
        corpus=corpus,
        corpus_text_col=text_col,
        corpus_id_col=id_col,
        threshold=near_threshold,
        _caches=caches,
    )
    # `survivors` must survive the corpus MUTATION: its plan reads
    # corpus_path, and Spark's cache manager drops caches by path on write
    # — a merely-persisted plan re-evaluated for the index append would
    # re-read the grown corpus and anti-join the just-admitted rows away
    # (index silently misses every batch). Materialize to a shared STAGING
    # dir (delta-sized write) and run both appends from that snapshot.
    # Corpus lands before the index on purpose: a crash in between admits
    # later near-copies (redundancy, curable by a probe rerun) — the
    # reverse order would leave ghost signatures that silently SUPPRESS
    # copies of a document that never landed (loss).
    import uuid

    stage = f"{corpus_path.rstrip('/')}.staging-{uuid.uuid4().hex[:12]}"
    try:
        survivors.write.mode("overwrite").parquet(stage)
        staged = spark.read.parquet(stage)
        n = staged.count()
        if n:
            staged.write.mode("append").parquet(corpus_path)
            append_dedup_index(staged, text_col, id_col, near_index)
        return n
    finally:
        _delete_path(spark, stage)
        for c in caches:
            try:
                c.unpersist()
            except Exception:
                pass


def _delete_path(spark, path: str) -> None:
    """Best-effort recursive delete of a staging dir (local or Hadoop).
    A failed delete never fails the batch (its appends already committed)
    but it is LOGGED — a silently-leaked ``.staging-*`` directory per batch
    adds up on a long-running stream; ``_sweep_staging`` reclaims leftovers
    at the next stream start."""
    from pq_vector_spark.index.build import _local_root

    try:
        root = _local_root(path)
        if root is not None:
            import shutil

            shutil.rmtree(root, ignore_errors=True)
            return
        jvm = spark._jvm
        jp = jvm.org.apache.hadoop.fs.Path(path)
        fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jp):
            fs.delete(jp, True)
    except Exception:
        _LOG.warning(
            "dedup_append_batch: failed to delete staging dir %s — it will "
            "be swept at the next streaming_ingest start",
            path,
            exc_info=True,
        )


def _sweep_staging(spark, corpus_path: str) -> int:
    """Delete leftover ``<corpus>.staging-*`` siblings from crashed or
    delete-failed earlier batches. Safe at stream START: Structured
    Streaming runs batches serially, so no staging dir of THIS query is
    live before the first batch, and a staging dir is only ever read by
    the batch that created it. Returns the number removed."""
    from pq_vector_spark.index.build import _hadoop_glob, _local_root

    pattern = f"{corpus_path.rstrip('/')}.staging-*"
    removed = 0
    try:
        root = _local_root(pattern)
        if root is not None:
            import glob as _glob
            import shutil

            for p in _glob.glob(root):
                shutil.rmtree(p, ignore_errors=True)
                removed += 1
        else:
            jvm = spark._jvm
            conf = spark._jsc.hadoopConfiguration()
            for p in _hadoop_glob(spark, pattern):
                jp = jvm.org.apache.hadoop.fs.Path(p)
                jp.getFileSystem(conf).delete(jp, True)
                removed += 1
    except Exception:
        _LOG.warning(
            "streaming_ingest: staging sweep under %s failed", corpus_path,
            exc_info=True,
        )
    if removed:
        _LOG.warning(
            "streaming_ingest: swept %d leftover staging dir(s) under %s",
            removed,
            corpus_path,
        )
    return removed


def streaming_ingest(
    stream: DataFrame,
    corpus_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint: Optional[str] = None,
    *,
    near_index: Optional[str] = None,
    near_threshold: float = 0.5,
    gate=None,
):
    """Return a ``DataStreamWriter`` that continuously ingests ``stream``
    into the parquet corpus at ``corpus_path`` with per-batch incremental
    dedup — exact by default; exact + NEAR when ``near_index`` names a
    ``build_dedup_index`` layout (the index is kept current: each batch's
    admitted rows append their signatures). Caller picks the
    trigger/start, e.g.::

        q = streaming_ingest(src, "/corpus", checkpoint="/chk").trigger(
            availableNow=True).start()
        q.awaitTermination()

    ``gate`` (r13) turns the ingest into the full curation stream:
    a ``DataFrame -> DataFrame`` callable applied to each micro-batch
    BEFORE dedup — rule filters (``gopher_quality_flags`` /
    ``c4_line_filters``), a trained classifier gate
    (``classify_quality``), PII scrub, or any composition. The gate runs
    map-side inside the batch (no extra action); rejected rows never
    reach the dedup probe or the corpus. The gate must preserve
    ``text_col`` and ``id_col`` and return the schema the corpus
    expects — it is the caller's projection contract, mirrored from
    ``operators/curate.py``'s batch pipeline."""

    _sweep_staging(stream.sparkSession, corpus_path)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if gate is not None:
            batch_df = gate(batch_df)
        dedup_append_batch(
            batch_df,
            corpus_path,
            text_col,
            id_col,
            near_index=near_index,
            near_threshold=near_threshold,
        )

    writer = stream.writeStream.foreachBatch(_apply).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def append_index_batch(
    batch_df: DataFrame,
    indexed_path: str,
    *,
    maintain_index: bool = False,
    maintain_codes: bool = False,
    stale_threshold: float = 0.2,
    rebuild_options=None,
    _warn_pending: bool = True,
) -> dict:
    """Apply one micro-batch to an INDEXED vector layout: assign the new
    rows to the existing centroids and append them
    (``index/build.append_to_index``), then optionally run the maintenance
    loop — ``refresh_codes_sidecar`` keeps a registered PQ codes table in
    sync (encodes only the missing rows), ``auto_rebuild_if_stale``
    retrains + swaps once appended mass crosses ``stale_threshold`` (and
    re-encodes the codes itself when it fires).

    Maintenance order: the rebuild check runs FIRST — when it fires it
    re-encodes a registered codes sidecar against the fresh clustering
    itself, so the incremental refresh would be wasted work; the refresh
    runs only when no rebuild fired AND the registered codes actually
    trail the index (both counts are already in hand — no extra jobs).

    Returns ``{"appended": n, "codes_refreshed": bool, "rebuilt": bool}``.
    Usable directly for batch backfills; ``streaming_index_ingest`` wires
    it into foreachBatch.
    """
    from pq_vector_spark.index.build import append_to_index, auto_rebuild_if_stale
    from pq_vector_spark.index.search import load_index
    from pq_vector_spark.plans.intercept import (
        _lookup_codes_sidecar,
        refresh_codes_sidecar,
    )

    spark = batch_df.sparkSession
    result = {"appended": 0, "codes_refreshed": False, "rebuilt": False}
    if _warn_pending and _list_pending(spark, indexed_path):
        # a pending-append buffer is a DURABLE artifact (parked by an
        # async-rebuild run that crashed or ended mid-rebuild) — a direct
        # batch caller appending around it would leave those rows
        # invisible to queries indefinitely (ADVICE r12). The streaming
        # wrapper drains it on its first batch in EITHER maintenance
        # mode; direct callers get this loud pointer instead of a silent
        # strand (draining here would recurse via drain_pending_appends).
        _LOG.warning(
            "append_index_batch: %s has a pending-append buffer with "
            "parked rows — run drain_pending_appends() to fold them in; "
            "they are invisible to queries until drained",
            indexed_path,
        )
    live_rows = None
    if not batch_df.isEmpty():
        meta = append_to_index(spark, batch_df, indexed_path)
        result["appended"] = int(meta.get("last_append_rows", 0))
        live_rows = int(meta["row_count"])
    if maintain_index:
        res = auto_rebuild_if_stale(
            spark,
            indexed_path,
            stale_threshold=stale_threshold,
            options=rebuild_options,
        )
        result["rebuilt"] = bool(res["rebuilt"])
        if live_rows is None and not res["rebuilt"]:
            # the health probe already read the sidecar's row count —
            # reuse it so the codes-staleness check below stays
            # metadata-free (streaming calls this with an empty batch
            # every maintain_every batches)
            live_rows = int(res["health"]["row_count"])
    if maintain_codes and not result["rebuilt"]:
        sidecar = _lookup_codes_sidecar(spark, indexed_path)
        if sidecar is not None:
            if live_rows is None:
                live_rows = int(load_index(spark, indexed_path).meta["row_count"])
            if int(sidecar[3]) < live_rows:
                refresh_codes_sidecar(spark, indexed_path)
                result["codes_refreshed"] = True
    return result


# in-flight async rebuilds, keyed by normalized indexed_path — lets a test
# or operator join a rebuild the stream kicked off (and a restarted writer
# in the same process notice one is still running)
_ASYNC_REBUILDS: dict = {}


def wait_for_async_rebuild(indexed_path: str, timeout: Optional[float] = None):
    """Block until the async rebuild for ``indexed_path`` (if any)
    finishes; returns its ``auto_rebuild_if_stale`` result dict, or None
    when no rebuild is registered / it hasn't completed in ``timeout``
    seconds. Re-raises an exception the rebuild thread died on."""
    st = _ASYNC_REBUILDS.get(indexed_path.rstrip("/"))
    if st is None:
        return None
    th = st.get("thread")
    if th is not None:
        th.join(timeout)
        if th.is_alive():
            return None
    if st.get("error") is not None:
        raise st["error"]
    return st.get("done")


def _pending_dir(indexed_path: str) -> str:
    return indexed_path.rstrip("/") + ".pending-appends"


def _list_pending(spark, indexed_path: str) -> list:
    from pq_vector_spark.index.build import _hadoop_glob, _local_root

    base = _pending_dir(indexed_path)
    root = _local_root(base)
    if root is not None:
        if not os.path.isdir(root):
            return []
        return sorted(
            os.path.join(base, d)
            for d in os.listdir(root)
            if d.startswith("batch-")
        )
    return sorted(_hadoop_glob(spark, f"{base}/batch-*"))


def drain_pending_appends(
    spark, indexed_path: str, *, dedupe_on: Optional[str] = None
) -> int:
    """Append rows parked in ``<indexed_path>.pending-appends`` (batches
    deferred while an async rebuild held the layout) into the index —
    assigning them to the CURRENT centroids — and remove the buffer.
    Returns the number of rows appended. ``streaming_index_ingest`` calls
    this automatically on the first batch after a rebuild completes; call
    it manually after ``wait_for_async_rebuild`` when the stream ended
    with the rebuild still running. With ``dedupe_on``, pending ids
    already present in the layout are dropped first (closes the
    crash-between-drain-and-delete replay window for keyed streams)."""
    dirs = _list_pending(spark, indexed_path)
    if not dirs:
        return 0
    pdf = spark.read.parquet(*dirs)
    if dedupe_on is not None:
        ids = pdf.select(dedupe_on).distinct()
        hits = (
            spark.read.parquet(indexed_path)
            .select(dedupe_on)
            .join(F.broadcast(ids), dedupe_on, "left_semi")
            .distinct()
        )
        pdf = pdf.join(F.broadcast(hits), dedupe_on, "left_anti")
    sub = append_index_batch(pdf, indexed_path, _warn_pending=False)
    _delete_path(spark, _pending_dir(indexed_path))
    return int(sub["appended"])


def indexed_topk_with_pending(
    spark,
    indexed_path: str,
    query,
    k: int,
    *,
    column: Optional[str] = None,
    options=None,
    tie_break: Optional[str] = None,
    keep_distance: bool = False,
    metric: str = "l2",
):
    """Freshness-closing search (r13, r12 verdict #6): while an async
    rebuild holds the layout, incoming batches park in
    ``<indexed_path>.pending-appends`` and a plain ``indexed_topk`` cannot
    see them until the post-swap drain (tens of seconds of invisible rows
    at bench scale; minutes-to-hours at production scale). This helper
    unions the indexed top-k over the layout with a BRUTE-FORCE ranking of
    the pending slice — delta-sized by construction (at most the batches
    that arrived during one rebuild), so the extra cost is append-bounded,
    not corpus-bounded — and re-ranks globally. With no pending buffer it
    returns exactly ``indexed_topk``; the pending union needs no index
    because brute force IS optimal on a slice that small. The global
    re-rank stays a bounded heap (TakeOrderedAndProject): the layout side
    arrives pre-limited to k and the pending side is delta-sized."""
    from pq_vector_spark.functions.distance import array_distance, cosine_similarity
    from pq_vector_spark.index.search import indexed_topk, load_index
    from pq_vector_spark.operators.topk import DISTANCE_COL

    main = indexed_topk(
        spark,
        indexed_path,
        query,
        k,
        column=column,
        options=options,
        tie_break=tie_break,
        keep_distance=True,
        metric=metric,
    )
    dirs = _list_pending(spark, indexed_path)
    if not dirs:
        return main if keep_distance else main.drop(DISTANCE_COL)
    col = column or load_index(spark, indexed_path).meta["column"]
    pend = spark.read.parquet(*dirs)
    if metric == "cosine":
        # string name, not F.col(...): lets the one-shot SQL render fire (r16)
        d = cosine_similarity(col, [float(x) for x in query])
        order = [F.col(DISTANCE_COL).desc()]
    else:
        d = array_distance(col, list(query))
        order = [F.col(DISTANCE_COL).asc_nulls_last()]
    if tie_break is not None:
        order.append(F.col(tie_break).asc())
    both = main.unionByName(pend.withColumn(DISTANCE_COL, d).select(main.columns))
    out = both.orderBy(*order).limit(k)
    return out if keep_distance else out.drop(DISTANCE_COL)


def streaming_index_ingest(
    stream: DataFrame,
    indexed_path: str,
    *,
    checkpoint: Optional[str] = None,
    maintain_index: bool = True,
    maintain_codes: bool = True,
    maintain_every: int = 1,
    stale_threshold: float = 0.2,
    rebuild_options=None,
    on_maintenance=None,
    dedupe_on: Optional[str] = None,
    dedupe_probe: str = "always",
    maintenance_mode: str = "inline",
    _pre_rebuild_hook=None,
):
    """Return a ``DataStreamWriter`` that continuously appends a vector
    stream into an indexed layout AND keeps the index healthy — the
    streaming closure of the append lifecycle the reference only offers as
    manual batch steps (in-place append src/ivf/parquet.rs:88-103 with no
    staleness gauge or retrain loop).

    Without maintenance, ``append_to_index`` forever reuses the original
    centroids and recall decays silently as appended mass grows. With it,
    every ``maintain_every``-th batch (1) incrementally re-encodes a
    registered PQ codes sidecar so the IVF-PQ route never declines fresh
    rows as stale, and (2) consults ``index_health`` and retrains + swaps
    once staleness crosses ``stale_threshold``.

    Concurrency: Structured Streaming runs micro-batches SERIALLY, so the
    rebuild inside a batch can never race this stream's own appends — the
    composition satisfies ``auto_rebuild_if_stale``'s quiesce contract by
    construction. Other writers must still respect the REBUILDING
    sentinel. ``on_maintenance(batch_id, result_dict)``, if given, is
    called after each batch (observability hook; exceptions propagate and
    fail the batch, so keep it cheap).

    Replay idempotence: foreachBatch is at-least-once — a batch whose
    append succeeded but whose checkpoint commit didn't (crash, or the
    same batch's maintenance step raising) is REPLAYED on restart, and a
    parquet append is not idempotent. A per-batch marker file (written
    right after the append, before maintenance) makes the replay skip the
    append and retry only the maintenance. Markers live under
    ``<checkpoint>/pq_ingest_markers/`` — scoped to the query (a fresh
    checkpoint restarts batch ids at 0, so layout-scoped markers would
    wrongly suppress a NEW run's appends) and surviving index rebuilds
    (a marker inside the layout would vanish with the retired directory).
    They are pruned as the stream advances (only the in-flight batch can
    ever replay), so the set stays a handful of files. A marker-confirmed
    replay reports the marker's RECORDED appended count with
    ``"replayed": True`` in the ``on_maintenance`` result dict, so
    sum-of-appended accounting sees the crashed attempt's rows (discount
    by the flag if you need each batch counted once). Without a
    checkpoint there is nothing durable for Spark to replay FROM, so no
    markers are kept and the run is plain at-least-once.

    The remaining crash window — dying BETWEEN the parquet append and the
    marker write — replays as a re-append and duplicates that batch. For
    keyed streams, ``dedupe_on=<id column>`` closes it: every batch's ids
    are anti-joined against the layout before appending (the
    ``incremental_dedup`` shape — the batch's distinct ids BROADCAST as a
    semi-join probe over the layout's id column, so the corpus scan is
    column-pruned and never shuffles; the anti-join then runs between two
    batch-bounded sides), making re-appends drop already-present rows.
    Cost: one id-column corpus probe per batch — opt-in because unkeyed
    streams can't use it and exactly-once-by-sink setups don't need it.
    True exactly-once without a key needs a transactional sink.

    ``dedupe_probe`` prices that probe: ``"always"`` (default) anti-joins
    every batch — the belt-and-suspenders mode, and the only safe one
    when the CHECKPOINT itself can be lost (every batch replays then,
    invisibly). ``"auto"`` runs the probe only on SUSPECTED replays: the
    first batch after this writer starts (a restart's in-flight batch is
    always the first one the new process sees — exactly where the
    crash-between-append-and-marker window lands) and any batch whose id
    is ≤ one this writer already processed. Steady-state batches — the
    99.99 % non-crash case — skip the corpus id scan entirely. Each
    ``on_maintenance`` result carries ``"dedupe_probed"`` so the choice is
    observable.

    ``maintenance_mode`` names WHERE a triggered rebuild runs.
    ``"inline"`` (default) retrains inside the micro-batch — simplest, but
    the batch (and the upstream source) stalls for the rebuild's duration,
    which at production scale is minutes-to-hours. ``"async"`` keeps the
    stream flowing: the due batch that finds the index stale only STARTS
    the rebuild on a side thread (reporting ``"rebuild_started": True``)
    and returns at append cost; while the rebuild holds the layout
    (REBUILDING sentinel), incoming batches park their rows in
    ``<indexed_path>.pending-appends/batch-<id>`` — a plain delta-sized
    parquet write, no centroid assignment — reporting
    ``"deferred": True``; the first batch after the thread finishes
    reports ``"rebuilt"`` and DRAINS the buffer into the fresh layout
    (one append against the new centroids), so per-batch latency stays
    bounded by append cost throughout. The rebuild's pre-swap verify is
    satisfied by construction: deferred batches never touch the layout,
    so the live row count cannot move under the retrain. If the stream
    ends while the rebuild is still running, ``wait_for_async_rebuild``
    then ``drain_pending_appends`` finish the job (a restarted stream
    also drains leftovers on its first batch). Deferred rows are
    invisible to queries until drained — bounded staleness, the price of
    not stalling; a pending buffer left by a crash is likewise drained at
    the next (re)start. While a rebuild is in flight, due maintenance is
    skipped (``"maintenance_deferred": True``) — the rebuild itself
    re-encodes any registered codes sidecar when it swaps.

    Single-writer guard (r13, r12 verdict #7): the pending buffer and
    the async-rebuild registry assume ONE live writer per indexed path —
    a second in-process writer whose batch found ``_ASYNC_REBUILDS``
    holding another stream's live rebuild used to pass the sentinel check
    and park rows into the SAME pending dir (colliding batch-id
    subdirectories overwrite each other). Each rebuild now records the
    writer that STARTED it, and a batch that finds a live rebuild owned
    by a different writer raises immediately — the query fails loudly
    instead of corrupting the buffer. Cross-process writers were already
    loud: ``append_to_index`` raises while the REBUILDING sentinel
    exists, and a second rebuild refuses to acquire a held sentinel.
    Outside a rebuild window, two appending streams interleave plain
    appends — still a documented single-writer assumption (their
    sidecar-meta updates can lose each other's counts), but they cannot
    corrupt the pending buffer.

    Freshness while a rebuild is in flight: deferred rows are invisible
    to a plain ``indexed_topk`` until drained; ``indexed_topk_with_pending``
    unions the layout result with a brute-force ranking of the pending
    slice (delta-sized), closing the gap at append-bounded read cost.

    Caller picks the trigger/start, e.g.::

        q = streaming_index_ingest(src, "/indexed", checkpoint="/chk") \\
            .trigger(availableNow=True).start()
        q.awaitTermination()
    """
    if maintain_every <= 0:
        raise ValueError(f"maintain_every must be positive, got {maintain_every}")
    if dedupe_probe not in ("always", "auto"):
        raise ValueError(
            f"dedupe_probe must be always|auto, got {dedupe_probe!r}"
        )
    if maintenance_mode not in ("inline", "async"):
        raise ValueError(
            f"maintenance_mode must be inline|async, got {maintenance_mode!r}"
        )
    marker_base = (
        f"{checkpoint.rstrip('/')}/pq_ingest_markers" if checkpoint else None
    )
    # replay-suspicion state for dedupe_probe="auto": per-writer (a restart
    # builds a fresh closure, so its first batch is always suspected)
    _seen = {"first": True, "max": None}
    _writer_token = uuid.uuid4().hex
    _rb = _ASYNC_REBUILDS.setdefault(
        indexed_path.rstrip("/"), {"thread": None, "done": None, "error": None}
    )

    def _start_async_rebuild(spark) -> None:
        import threading

        _rb["done"], _rb["error"] = None, None
        _rb["owner"] = _writer_token

        def _run():
            try:
                from pq_vector_spark.index.build import auto_rebuild_if_stale

                if _pre_rebuild_hook is not None:
                    _pre_rebuild_hook()
                _rb["done"] = auto_rebuild_if_stale(
                    spark,
                    indexed_path,
                    stale_threshold=stale_threshold,
                    options=rebuild_options,
                )
            except BaseException as e:  # surfaced on the next batch
                _rb["error"] = e

        th = threading.Thread(
            target=_run, name=f"pq-rebuild-{indexed_path}", daemon=True
        )
        _rb["thread"] = th
        th.start()

    def _marker_exists(spark, marker: str) -> bool:
        from pq_vector_spark.index.build import _hadoop_glob, _local_root

        root = _local_root(marker)
        if root is not None:
            return os.path.isfile(root)
        return bool(_hadoop_glob(spark, marker))

    def _write_marker(spark, marker: str, body: str) -> None:
        from pq_vector_spark.index.build import _write_text

        _write_text(spark, marker, body)

    def _read_marker_appended(spark, marker: str) -> int:
        """Recorded appended count of the crashed attempt (0 when the
        marker body is unreadable — accounting degrades, never the data)."""
        from pq_vector_spark.index.build import _read_text

        try:
            return int(json.loads(_read_text(spark, marker)).get("appended", 0))
        except Exception:
            return 0

    def _prune_markers(spark, batch_id: int) -> None:
        """Markers for batches the checkpoint has committed past are dead
        weight (only the in-flight batch can replay); keep the current and
        previous batch, delete the rest — bounds both the file count and
        the per-batch existence probe's directory size."""
        from pq_vector_spark.index.build import _hadoop_glob, _local_root

        def batch_of(name: str):
            try:
                return int(name.rsplit("batch-", 1)[1])
            except (IndexError, ValueError):
                return None

        root = _local_root(marker_base)
        if root is not None:
            if not os.path.isdir(root):
                return
            for name in os.listdir(root):
                b = batch_of(name)
                if b is not None and b < batch_id - 1:
                    try:
                        os.remove(os.path.join(root, name))
                    except OSError:
                        pass
            return
        try:
            jvm = spark._jvm
            conf = spark._jsc.hadoopConfiguration()
            for p in _hadoop_glob(spark, f"{marker_base}/batch-*"):
                b = batch_of(p)
                if b is not None and b < batch_id - 1:
                    jp = jvm.org.apache.hadoop.fs.Path(p)
                    jp.getFileSystem(conf).delete(jp, False)
        except Exception:
            pass  # pruning is best-effort housekeeping

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = (
            f"{marker_base}/batch-{int(batch_id)}" if marker_base else None
        )
        replayed = bool(marker) and _marker_exists(spark, marker)
        first_batch = _seen["first"]
        suspected = _seen["first"] or (
            _seen["max"] is not None and batch_id <= _seen["max"]
        )
        _seen["first"] = False
        _seen["max"] = (
            batch_id if _seen["max"] is None else max(_seen["max"], batch_id)
        )
        due = (batch_id % maintain_every) == (maintain_every - 1)
        result = {
            "appended": 0,
            "codes_refreshed": False,
            "rebuilt": False,
            "replayed": replayed,
            "dedupe_probed": False,
            "deferred": False,
        }
        rebuilding = False
        if maintenance_mode == "async":
            th = _rb["thread"]
            if (
                th is not None
                and th.is_alive()
                and _rb.get("owner") not in (None, _writer_token)
            ):
                # r13 (r12 verdict #7): a SECOND in-process writer on this
                # path would pass the sentinel check (the sentinel belongs
                # to the live rebuild) and park rows into the same pending
                # dir with colliding batch-id subdirs — refuse loudly
                # instead. Cross-process second writers already fail on
                # the REBUILDING sentinel inside append_to_index.
                raise RuntimeError(
                    f"streaming_index_ingest: another writer's async "
                    f"rebuild is in flight for {indexed_path} — a second "
                    "concurrent writer would corrupt the pending-append "
                    "buffer (batch ids collide). Stop the other stream or "
                    "wait for its rebuild to finish "
                    "(wait_for_async_rebuild)."
                )
            if th is not None and not th.is_alive():
                th.join()
                _rb["thread"] = None
                if _rb["error"] is not None:
                    _LOG.warning(
                        "streaming_index_ingest: async rebuild of %s failed "
                        "(stream continues on the old layout): %r",
                        indexed_path,
                        _rb["error"],
                    )
                    result["rebuild_error"] = repr(_rb["error"])
                else:
                    result["rebuilt"] = bool(
                        _rb["done"] and _rb["done"].get("rebuilt")
                    )
                result["drained"] = drain_pending_appends(
                    spark, indexed_path, dedupe_on=dedupe_on
                )
            elif th is None and _list_pending(spark, indexed_path):
                # buffer left by a crashed run or a stream that ended
                # mid-rebuild: fold it in before this batch's append
                result["drained"] = drain_pending_appends(
                    spark, indexed_path, dedupe_on=dedupe_on
                )
            rebuilding = _rb["thread"] is not None
        elif first_batch and _list_pending(spark, indexed_path):
            # inline mode must ALSO rescue a buffer stranded by a prior
            # async run (ADVICE r12: the buffer is a durable on-disk
            # artifact, not tied to this writer's maintenance_mode — a
            # restart in the default mode silently lost those rows before)
            _LOG.warning(
                "streaming_index_ingest: draining pending-append buffer "
                "stranded at %s by a previous async run before batch %d",
                indexed_path,
                batch_id,
            )
            result["drained"] = drain_pending_appends(
                spark, indexed_path, dedupe_on=dedupe_on
            )
        if replayed:
            _LOG.warning(
                "streaming_index_ingest: batch %d already applied "
                "(marker %s) — skipping append, retrying maintenance",
                batch_id,
                marker,
            )
            # surface the crashed attempt's recorded count so the stream's
            # sum-of-appended accounting doesn't silently undercount it
            result["appended"] = _read_marker_appended(spark, marker)
        else:
            to_append, cached = batch_df, None
            probe = dedupe_on is not None and not batch_df.isEmpty() and (
                dedupe_probe == "always" or suspected
            )
            result["dedupe_probed"] = probe
            if probe:
                # replay of a marker-less batch (crash between append and
                # marker write) re-enters here — the anti-join drops rows
                # whose ids already landed, so the re-append is a no-op.
                # Corpus side: id-column scan, map-side filtered by the
                # broadcast batch ids — never shuffles, hits ≤ batch rows.
                ids = batch_df.select(dedupe_on).distinct()
                hits = (
                    spark.read.parquet(indexed_path)
                    .select(dedupe_on)
                    .join(F.broadcast(ids), dedupe_on, "left_semi")
                    .distinct()
                )
                cached = batch_df.join(
                    F.broadcast(hits), dedupe_on, "left_anti"
                ).persist()
                to_append = cached
            # append FIRST and mark it immediately — if the maintenance
            # below raises, the replay must retry maintenance only, never
            # re-append. While an async rebuild holds the layout, the
            # "append" is a pending-buffer parquet write (idempotent per
            # batch via overwrite) — drained after the rebuild swaps.
            try:
                if rebuilding:
                    if not batch_df.isEmpty():
                        pdir = (
                            f"{_pending_dir(indexed_path)}/batch-{int(batch_id)}"
                        )
                        to_append.write.mode("overwrite").parquet(pdir)
                        result["appended"] = int(
                            spark.read.parquet(pdir).count()
                        )
                    result["deferred"] = True
                else:
                    sub = append_index_batch(to_append, indexed_path)
                    result.update(
                        appended=sub["appended"],
                        codes_refreshed=sub["codes_refreshed"],
                        # never clobber a True set by the async-join above
                        rebuilt=result["rebuilt"] or sub["rebuilt"],
                    )
            finally:
                if cached is not None:
                    cached.unpersist()
            if marker:
                _write_marker(
                    spark, marker, f'{{"appended": {result["appended"]}}}\n'
                )
        if marker:
            _prune_markers(spark, batch_id)
        if due and (maintain_index or maintain_codes):
            if maintenance_mode == "async":
                if rebuilding:
                    # the running rebuild IS the maintenance; codes refresh
                    # would race the swap's own re-encode — skip until done
                    result["maintenance_deferred"] = True
                else:
                    started = False
                    if maintain_index:
                        from pq_vector_spark.index.build import index_health

                        health = index_health(
                            spark, indexed_path,
                            stale_threshold=stale_threshold,
                        )
                        if health["stale"]:
                            _start_async_rebuild(spark)
                            result["rebuild_started"] = True
                            started = True
                    if maintain_codes and not started:
                        maint = append_index_batch(
                            batch_df.limit(0),
                            indexed_path,
                            maintain_index=False,
                            maintain_codes=True,
                        )
                        result["codes_refreshed"] = maint["codes_refreshed"]
            else:
                maint = append_index_batch(
                    batch_df.limit(0),
                    indexed_path,
                    maintain_index=maintain_index,
                    maintain_codes=maintain_codes,
                    stale_threshold=stale_threshold,
                    rebuild_options=rebuild_options,
                )
                result["codes_refreshed"] = maint["codes_refreshed"]
                result["rebuilt"] = maint["rebuilt"]
        if on_maintenance is not None:
            on_maintenance(batch_id, result)

    writer = stream.writeStream.foreachBatch(_apply).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer
