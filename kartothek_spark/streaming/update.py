"""Structured Streaming integration.

The reference has NO streaming (survey §2.7); its closest analog is the
incremental ``update_dataset_*`` pipeline. The Spark-native mapping is
micro-batch ``foreachBatch`` → one atomic manifest commit per batch, which
preserves the engine's exactly-the-manifest-is-visible guarantee: readers
never observe a half-written batch, and a crashed batch leaves only
GC-able orphan files.

``foreachBatch`` itself is at-least-once; every maintained dataset turns
that into exactly-once through one step, :func:`_land`:

- the ``(txn_id, batch_id)`` stamp rides the LAST commit of a batch, so a
  batch has landed iff the live manifest carries its stamp;
- a missing manifest means nothing was committed: purge the engine-owned
  layout a crashed first build left behind, then build;
- a landed stamp means the batch is a re-delivery: skip it, running no
  build, sync or store.
"""

from __future__ import annotations

from functools import partial
from typing import Any, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset
from kartothek_spark.core.manifest import DatasetManifest


def quarantine_uuid(dataset_uuid: str) -> str:
    return f"{dataset_uuid}__quarantine"


def _batch_already_committed(
    root: str, dataset_uuid: str, batch_id: int, txn_id: str | None
) -> bool:
    """True iff this micro-batch already landed in the dataset's manifest.

    The standard ``foreachBatch`` exactly-once pattern (Delta's
    txnAppId/txnVersion): every commit stamps ``(txn_id, batch_id)`` into
    the manifest metadata, and a retried batch (same ids, delivered again
    after a crash between the commit and the checkpoint advance) is
    detected here and skipped — without this, the at-least-once contract
    of ``foreachBatch`` would re-append the batch's rows.

    ``batch_id`` alone is NOT enough: ids restart at 0 when a stream is
    restarted with a fresh checkpoint, and a bare ``last >= batch_id``
    check would then silently DISCARD real data. The stamp therefore
    carries the transaction identity (the checkpoint location by default);
    a differing or absent identity means "not a retry" and the commit
    proceeds. Without a checkpoint there are no retries to dedupe (a
    restart reprocesses from scratch by design), so ``txn_id=None``
    disables the guard."""
    if txn_id is None or not DatasetManifest.exists(root, dataset_uuid):
        return False
    md = DatasetManifest.load(root, dataset_uuid).metadata
    if md.get("last_stream_txn") != txn_id:
        return False
    last = md.get("last_stream_batch")
    return last is not None and int(last) >= int(batch_id)


def _purge_uncommitted_dataset_dir(root: str, dataset_uuid: str) -> None:
    """Remove the orphaned payload of a dataset build that crashed BEFORE
    its manifest commit — but only what the engine itself lays out
    (``table/``, ``indices/``, ``_history/``, ``_manifest/``). A target
    directory holding anything else is not a half-written dataset of
    ours: refuse with an explicit error instead of recursively deleting a
    directory the library does not exclusively own."""
    import os
    import shutil

    target = os.path.join(root, dataset_uuid)
    if not os.path.isdir(target):
        return
    owned = {"table", "indices", "_history", "_manifest"}
    foreign = sorted(set(os.listdir(target)) - owned)
    if foreign:
        raise RuntimeError(
            f"refusing batch-0 recovery purge of {target!r}: it has no "
            f"dataset manifest but contains non-engine entries {foreign} "
            "— check root/index_uuid (a wrong target here would destroy "
            "unrelated data)"
        )
    shutil.rmtree(target, ignore_errors=True)


def _batch_stamp(batch_id: int, txn_id: str | None) -> dict[str, Any]:
    stamp: dict[str, Any] = {"last_stream_batch": batch_id}
    if txn_id is not None:
        stamp["last_stream_txn"] = txn_id
    return stamp


def _start(stream_df: DataFrame, commit_batch, checkpoint_dir, trigger):
    """Start ``stream_df`` with ``commit_batch`` as its micro-batch sink."""
    writer = stream_df.writeStream.foreachBatch(commit_batch).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def _land(root, uuid, batch_df, batch_id, txn_id, build, sync, also_owned=()):
    """The exactly-once step (module docstring): ``build(batch_df, stamp)``
    creates dataset ``uuid``, ``sync(batch_df, stamp)`` advances it, and
    both put ``stamp`` on their LAST commit. Before a build, the crash
    debris of ``uuid`` and of every ``also_owned`` dataset the build also
    creates is purged — the store path would otherwise ADOPT it, since it
    enumerates everything under ``data_root``."""
    stamp = _batch_stamp(batch_id, txn_id)
    if not DatasetManifest.exists(root, uuid):
        for owned in (uuid, *also_owned):
            _purge_uncommitted_dataset_dir(root, owned)
        build(batch_df, stamp)
    elif not _batch_already_committed(root, uuid, batch_id, txn_id):
        sync(batch_df, stamp)


def _maintain(stream_df, root, uuid, checkpoint_dir, trigger, build, sync, also_owned=()):
    """Start a stream that lands every non-empty micro-batch in ``uuid``,
    with the checkpoint location as the transaction identity. ``build``
    and ``sync`` have the index operators' shape
    ``op(spark, batch_df, root, uuid, extra_metadata=stamp)``."""
    spark = stream_df.sparkSession

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            _land(
                root, uuid, batch_df, batch_id, checkpoint_dir,
                lambda b, stamp: build(spark, b, root, uuid, extra_metadata=stamp),
                lambda b, stamp: sync(spark, b, root, uuid, extra_metadata=stamp),
                also_owned,
            )

    return _start(stream_df, commit_batch, checkpoint_dir, trigger)


def _append(root, uuid, batch_df, batch_id, txn_id, prep=None, **create):
    """Land a batch as plain rows: ``store_dataframe_as_dataset`` (with the
    create-time options ``create``) builds, ``update_dataset`` appends.
    ``prep`` maps the batch to the rows to write, and runs only for a
    batch that has not landed."""
    spark = batch_df.sparkSession
    prep = prep or (lambda df: df)
    _land(
        root, uuid, batch_df, batch_id, txn_id,
        lambda df, stamp: store_dataframe_as_dataset(
            spark, prep(df), root, uuid, metadata=stamp, **create
        ),
        lambda df, stamp: update_dataset(spark, prep(df), root, uuid, metadata=stamp),
    )


def _split_on_constraints(batch_df: DataFrame, constraints: dict[str, str]):
    """(valid, violating) — violating rows carry ``violated_constraint``
    (the first failing constraint, NULL result counts as failing)."""
    viol = F.lit(None).cast("string")
    for name, expr in reversed(list(constraints.items())):
        ok = F.coalesce(F.expr(expr).cast("boolean"), F.lit(False))
        viol = F.when(~ok, F.lit(name)).otherwise(viol)
    tagged = batch_df.withColumn("violated_constraint", viol)
    return (
        tagged.where(F.col("violated_constraint").isNull()).drop("violated_constraint"),
        tagged.where(F.col("violated_constraint").isNotNull()),
    )


def stream_update_dataset(
    stream_df: DataFrame,
    root: str,
    dataset_uuid: str,
    partition_on: Sequence[str] = (),
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
    keep_history: bool = False,
    constraints: dict[str, str] | None = None,
    quarantine: bool = False,
):
    """Write a streaming DataFrame into a managed dataset, one atomic
    commit per micro-batch. Returns the StreamingQuery.

    ``keep_history=True`` snapshots every micro-batch commit: each batch
    becomes a time-travel-able version and downstream consumers can tail
    the stream transactionally via ``read_changes``/``sync_derived_dataset``
    — streaming ingest and the CDC layer compose.

    ``constraints`` installs CHECK constraints on the dataset at creation.
    By default a violating batch FAILS the stream (the batch commits
    nothing — same contract as batch writes); with ``quarantine=True``
    violating rows are instead routed to the ``<uuid>__quarantine``
    dead-letter dataset with a ``violated_constraint`` column naming the
    first failed check, and the stream keeps running — the live-pipeline
    contract, where one bad record must not stall ingestion."""
    txn_id = checkpoint_dir  # transaction identity for the retry guard

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        def divert(df: DataFrame) -> DataFrame:
            # violating rows land in the quarantine BEFORE the main commit,
            # which carries the batch's stamp last
            live = constraints
            if quarantine and DatasetManifest.exists(root, dataset_uuid):
                live = DatasetManifest.load(root, dataset_uuid).constraints or constraints
            if quarantine and live:
                df, bad = _split_on_constraints(df, dict(live))
                if not bad.isEmpty():
                    _append(root, quarantine_uuid(dataset_uuid), bad, batch_id, txn_id)
            return df

        _append(
            root, dataset_uuid, batch_df, batch_id, txn_id, prep=divert,
            partition_on=partition_on, keep_history=keep_history,
            constraints=constraints,
        )

    return _start(stream_df, commit_batch, checkpoint_dir, trigger)


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: Sequence[str] = ("event_type",),
    slide_duration: str | None = None,
) -> DataFrame:
    """Tumbling-window counts with late-data watermarking; pass
    ``slide_duration`` for SLIDING windows (every event lands in
    duration/slide overlapping windows — Spark's generate-per-event
    expansion, the same shape at any scale because the fan-out factor is
    a constant of the window spec, not of the data). Works on both batch
    and streaming frames (same plan; watermark is a no-op in batch, so
    batch backfill and the live stream share one definition)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = (
        F.window(F.col(ts_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(ts_col), window_duration)
    )
    return (
        df.groupBy(win.alias("w"), *group_cols)
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("double")), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *group_cols,
            "n_events",
            "sum_value",
        )
    )


def sessionize_stream(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Streaming gap-based sessionization — a custom stateful operator via
    ``applyInPandasWithState``: per-user GroupState holds the open session
    (start, end, count) across micro-batches; a session is emitted when a
    later event of the same user exceeds the gap, or when the state times
    out. The shuffle key is user_id, so state is partitioned exactly like
    the aggregation would be at cluster scale; each state value is three
    longs — millions of concurrent users fit comfortably per executor."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = (
        f"{user_col} long, session_start timestamp, session_end timestamp, n_events long"
    )
    state_schema = "start long, end long, n long"  # epoch MICROseconds + count

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        user = key[0]

        def emit(rows):
            return pd.DataFrame(
                rows, columns=[user_col, "session_start", "session_end", "n_events"]
            ).astype({user_col: "int64", "n_events": "int64"})

        def to_ts(us: int):
            return pd.Timestamp(us * 1000)  # ns

        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield emit([[user, to_ts(start), to_ts(end), n]])
            return

        ts = []
        for pdf in pdf_iter:
            # .value is epoch ns of the tz-naive (session-UTC) timestamp —
            # NOT .timestamp(), which would re-interpret it in local time
            ts.extend(int(v.value) // 1000 for v in pdf[ts_col])
        ts.sort()
        cur = state.get if state.exists else None  # (start, end, n)
        closed = []
        for t in ts:
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] > gap_us:
                closed.append(cur)
                cur = (t, t, 1)
            else:
                cur = (cur[0], max(cur[1], t), cur[2] + 1)
        state.update(cur)
        state.setTimeoutDuration(gap_minutes * 60 * 1000)
        if closed:
            yield emit([[user, to_ts(s), to_ts(e), n] for s, e, n in closed])

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization (batch form): a new session starts when the
    user's inter-event gap exceeds ``gap_minutes``. One shuffle on user_id;
    :func:`sessionize_stream` is the stateful streaming form."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    starts = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    df = events.withColumn("__new", starts)
    df = df.withColumn("session_seq", F.sum("__new").over(w))
    return (
        df.groupBy(user_col, "session_seq")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .withColumn("session_seq", F.col("session_seq").cast("long"))
    )


def stream_dedup_exact(
    events: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication: keep the first occurrence of each key
    within the watermark horizon (`dropDuplicatesWithinWatermark`, the
    streaming analog of ``operators.dedup.dedup_exact``).

    State is one entry per key seen inside the watermark window and is
    evicted as the watermark advances — bounded memory at any corpus size,
    unlike an unwindowed ``dropDuplicates`` whose state grows forever. On a
    batch frame the same call degrades to plain ``dropDuplicates`` over the
    keys so backfill and live stream share one definition (watermark
    semantics need event-time progress, which batch has none of)."""
    cols = list(key_cols)
    if not events.isStreaming:
        return events.dropDuplicates(cols)
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(cols)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    lookback: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Keyed interval (stream-stream-capable) join: pair every right row
    with the left rows of the same key whose timestamp falls within
    ``lookback`` BEFORE it (view→purchase attribution). One definition for
    batch and streaming: on streaming inputs both sides get watermarks and
    Spark runs its stream-stream join with bounded state (the time-range
    condition is what lets it evict); on batch the same plan is a hash
    equi-join on the key with the range as a post-filter — never a
    cartesian. Timestamp columns must be distinct names; other collisions
    are rejected."""
    clash = (set(left.columns) & set(right.columns)) - {key}
    if clash:
        raise ValueError(f"interval_join: column collision {sorted(clash)}; rename first")
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {lookback}"))
    )
    return l.join(r, cond).drop(r[key])


def stream_dedup_index(
    stream_df: DataFrame,
    root: str,
    corpus_uuid: str = "corpus",
    index_uuid: str = "mh_index",
    pairs_uuid: str = "dup_pairs",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Streaming near-duplicate detection against the FULL corpus history:
    per micro-batch, (1) commit the batch into a history-keeping corpus
    dataset, (2) advance the persisted MinHash signature index
    (:func:`~kartothek_spark.operators.dedup_index.sync_minhash_index` —
    signatures computed for the batch only, banded against the index), and
    (3) append the newly-discovered pairs to a queryable pairs dataset.
    After the stream drains, the pairs dataset equals the batch operator's
    output over everything ingested — the streaming form of corpus dedup
    with per-batch cost O(batch), never a history re-scan.

    Consistency: the corpus commit is the transaction of record and is
    idempotent — a batch retried after its corpus commit landed is detected
    via the ``last_stream_batch`` stamp and skips the re-append. The index
    sync commits its cursor last (``dataset/sync.py``), so a batch that
    failed before that commit gets all its pairs from the retried sync. A
    crash AFTER the cursor commit but before the pairs append loses the
    batch's pair rows (the retried sync emits none); rebuild the index to
    repair (delete index + pairs datasets, one catch-up sync). Returns the
    StreamingQuery."""
    from kartothek_spark.operators.dedup_index import sync_minhash_index

    spark = stream_df.sparkSession
    txn_id = checkpoint_dir

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # a retried batch whose corpus already landed skips the append;
        # the sync below then sees no new files
        _append(root, corpus_uuid, batch_df, batch_id, txn_id, keep_history=True)
        pairs = sync_minhash_index(
            spark, root, corpus_uuid, root, index_uuid,
            text_col=text_col, id_col=id_col, threshold=threshold,
        )
        _land(
            root, pairs_uuid, pairs, batch_id, txn_id,
            lambda df, stamp: store_dataframe_as_dataset(
                spark, df, root, pairs_uuid, metadata=stamp
            ),
            # count is cheap here: sync_minhash_index returns its pairs
            # computed (the driver's rows after an incremental sync, a
            # checkpoint after a build), so nothing re-runs the banding
            lambda df, stamp: update_dataset(
                spark, df if df.count() else None, root, pairs_uuid, metadata=stamp
            ),
        )

    return _start(stream_df, commit_batch, checkpoint_dir, trigger)


def stream_aggregate_view(
    stream_df: DataFrame,
    root: str,
    source_uuid: str,
    view_uuid: str,
    group_by: Sequence[str],
    aggs: Sequence[tuple[str, str, str]],
    view_partition_on: Sequence[str] | None = None,
    source_partition_on: Sequence[str] = (),
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Streaming materialized aggregate: per micro-batch, commit the batch
    into a history-keeping source dataset, then advance the incremental
    groupBy view (:func:`~kartothek_spark.dataset.sync.
    sync_aggregate_dataset` — delta-aggregate the new files, rewrite only
    the touched view partitions). Unlike a Structured-Streaming stateful
    aggregation, the running totals live in a QUERYABLE managed dataset
    (time-travel, predicates, SQL) rather than in opaque operator state,
    and a restart needs no state store — the cursor in the view manifest
    is the only state. Returns the StreamingQuery."""
    from kartothek_spark.dataset.sync import sync_aggregate_dataset

    spark = stream_df.sparkSession

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _append(
            root, source_uuid, batch_df, batch_id, checkpoint_dir,
            keep_history=True, partition_on=source_partition_on,
        )
        # runs for a retried batch too: the view sync is cursor-idempotent,
        # so it just catches up if the crash hit between source commit and
        # view rewrite
        sync_aggregate_dataset(
            spark, root, source_uuid, root, view_uuid,
            group_by=group_by, aggs=aggs, partition_on=view_partition_on,
        )

    return _start(stream_df, commit_batch, checkpoint_dir, trigger)


def stream_text_index(
    stream_df: DataFrame,
    root: str,
    index_uuid: str = "text_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 16,
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Streaming maintenance of the persisted BM25 postings index
    (:mod:`~kartothek_spark.operators.search_index`): the first micro-batch
    builds the index, every later batch appends its postings and advances
    the exact corpus scalars in one atomic O(batch) sync — a query issued
    between batches always scores against a consistent (postings, N,
    avgdl) snapshot, and after the stream drains the index answers
    exactly like ``bm25_search`` over everything ingested (pinned by the
    stream-vs-batch pytest).

    Exactly-once: each build/sync commit carries the ``(txn_id,
    batch_id)`` stamp INSIDE the same manifest transaction (via the
    operators' ``extra_metadata``), so a batch re-delivered after a crash
    between commit and checkpoint advance is detected by
    ``_batch_already_committed`` and skipped — a replay would otherwise
    double-insert postings AND double-count N/avgdl. Returns the
    StreamingQuery."""
    from kartothek_spark.operators.search_index import (
        build_text_index,
        sync_text_index,
    )

    return _maintain(
        stream_df, root, index_uuid, checkpoint_dir, trigger,
        partial(build_text_index, text_col=text_col, id_col=id_col, buckets=buckets),
        partial(sync_text_index, text_col=text_col, id_col=id_col),
    )


def stream_fuzzy_index(
    stream_df: DataFrame,
    root: str,
    index_uuid: str = "fuzzy_index",
    string_col: str = "text",
    max_dist: int = 2,
    max_len: int = 48,
    buckets: int = 16,
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Streaming maintenance of the persisted SymSpell fuzzy index
    (:mod:`~kartothek_spark.operators.fuzzy_index`): batch 0 builds the
    index, every later micro-batch appends its NEW keys' deletion blocks
    in one atomic O(batch) commit — a lookup issued between batches
    always sees a consistent block set, and after the stream drains the
    index answers exactly like one built over everything ingested
    (pinned by the stream-vs-batch pytest). Same exactly-once shape as
    ``stream_text_index``: the ``(txn_id, batch_id)`` stamp rides INSIDE
    each commit, so a batch re-delivered after a crash between commit
    and checkpoint advance is skipped instead of double-appending its
    blocks. (Duplicate blocks would not change lookup RESULTS — the
    candidate set de-duplicates — but would grow the index unboundedly
    under repeated replays.) Returns the StreamingQuery."""
    from kartothek_spark.operators.fuzzy_index import (
        build_fuzzy_index,
        sync_fuzzy_index,
    )

    return _maintain(
        stream_df, root, index_uuid, checkpoint_dir, trigger,
        partial(
            build_fuzzy_index, max_dist=max_dist, string_col=string_col,
            max_len=max_len, buckets=buckets,
        ),
        partial(sync_fuzzy_index, string_col=string_col),
    )


def stream_winnow_index(
    stream_df: DataFrame,
    root: str,
    index_uuid: str = "winnow_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    buckets: int = 16,
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Streaming maintenance of the persisted winnowing fingerprint index
    (:mod:`~kartothek_spark.operators.winnow_index`): batch 0 builds the
    index, every later micro-batch appends its documents' fingerprints in
    one atomic O(batch) commit — an overlap query issued between batches
    always sees a consistent fingerprint set, and after the stream drains
    the index answers exactly like one built over everything ingested
    (pinned by the stream-vs-batch pytest). Same exactly-once shape as
    ``stream_text_index``: the ``(txn_id, batch_id)`` stamp rides INSIDE
    each commit, so a batch re-delivered after a crash between commit and
    checkpoint advance is skipped instead of double-appending. (Duplicate
    fingerprint rows would not change query RESULTS — every query
    deduplicates the (doc, fp) set — but would grow the index unboundedly
    under repeated replays.) Returns the StreamingQuery."""
    from kartothek_spark.operators.winnow_index import (
        build_winnow_index,
        sync_winnow_index,
    )

    return _maintain(
        stream_df, root, index_uuid, checkpoint_dir, trigger,
        partial(
            build_winnow_index, text_col=text_col, id_col=id_col, k=k, w=w, buckets=buckets
        ),
        partial(sync_winnow_index, text_col=text_col, id_col=id_col),
    )


def stream_sq_index(
    stream_df: DataFrame,
    root: str,
    index_uuid: str = "sq_index",
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Streaming maintenance of the persisted SQ8 code dataset
    (:mod:`~kartothek_spark.operators.sq`): batch 0 builds, every later
    micro-batch appends its vectors' packed codes in one atomic O(batch)
    commit. Self-normalized codes have NO corpus statistics, so a
    streamed index is bit-identical to a batch build over everything
    ingested at any point in time (pinned by the stream-vs-batch
    pytest). Exactly-once via the ``(txn_id, batch_id)`` stamp inside
    each commit — a replayed batch would otherwise duplicate code rows,
    which WOULD change top-k results (duplicate neighbors). Returns the
    StreamingQuery."""
    from kartothek_spark.operators.sq import build_sq_index, sync_sq_index

    return _maintain(
        stream_df, root, index_uuid, checkpoint_dir, trigger,
        partial(build_sq_index, dim=dim, id_col=id_col, vec_col=vec_col, levels=levels),
        partial(sync_sq_index, id_col=id_col, vec_col=vec_col),
    )


def stream_span_index(
    stream_df: DataFrame,
    root: str,
    index_uuid: str = "span_index",
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 16,
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Streaming maintenance of the persisted C4 span-hash index
    (:mod:`~kartothek_spark.operators.span_index`): batch 0 builds the
    history, every later micro-batch appends its documents' RAW span
    rows in one atomic O(batch) commit — so
    ``c4_dedup_incremental`` probes issued between batches always see a
    consistent history, and after the stream drains the index equals one
    batch build over everything ingested (pinned by the stream-vs-batch
    pytest; the monotonic-id ingest contract is the caller's, exactly as
    in the batch API). Exactly-once via the ``(txn_id, batch_id)`` stamp
    inside each commit — duplicate span rows from a replay would not
    change victim SETS (history hits are EXISTS-semantics) but would
    grow the index unboundedly. Returns the StreamingQuery."""
    from kartothek_spark.operators.span_index import (
        build_span_index,
        sync_span_index,
    )

    return _maintain(
        stream_df, root, index_uuid, checkpoint_dir, trigger,
        partial(build_span_index, n=n, text_col=text_col, id_col=id_col, buckets=buckets),
        partial(sync_span_index, text_col=text_col, id_col=id_col),
    )


def stream_dsir_scores(
    stream_df: DataFrame,
    root: str,
    scores_uuid: str,
    model_root: str,
    model_uuid: str = "dsir_model",
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Continuous DSIR data selection: every raw micro-batch is scored
    against the PERSISTED log-ratio model
    (:mod:`~kartothek_spark.operators.dsir_model` — fit once, frozen q̂)
    and its ``(id, score_micro)`` rows land in a managed scores dataset
    in one atomic O(batch) commit. The model never changes mid-stream,
    so the drained scores equal the batch scorer over everything
    ingested (pinned by the stream-vs-batch pytest); downstream
    selection (threshold or Gumbel-top-k) reads the scores dataset.
    Exactly-once via the ``(txn_id, batch_id)`` stamp inside each commit
    — a replayed batch would otherwise duplicate score rows. Returns the
    StreamingQuery."""
    from kartothek_spark.operators.dsir_model import dsir_score_from_model

    spark = stream_df.sparkSession

    def score(b: DataFrame) -> DataFrame:
        return dsir_score_from_model(
            spark, b, model_root, model_uuid, text_col=text_col, id_col=id_col
        )

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            _append(root, scores_uuid, batch_df, batch_id, checkpoint_dir, prep=score)

    return _start(stream_df, commit_batch, checkpoint_dir, trigger)


def stream_contamination_index(
    stream_df: DataFrame,
    root: str,
    index_uuid: str = "contamination_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Streaming maintenance of the persisted benchmark contamination
    index (:mod:`~kartothek_spark.operators.contamination_index`): eval
    suites arrive as a stream (new benchmarks get published continuously
    in a real pipeline); batch 0 builds the index, every later
    micro-batch appends in one id-idempotent O(batch) sync, and training
    batches can probe between commits against a consistent snapshot.

    Exactly-once across a TWO-dataset commit: the ``(txn_id, batch_id)``
    stamp rides in the BASE dataset's commit, which both build and sync
    perform LAST — a crash before the base commit replays the whole
    batch (band-row duplicates from the torn first half are value-
    neutral: the query side deduplicates the bands read, and the ck
    dedup floor never advanced), a crash after it is detected by
    ``_batch_already_committed`` and skipped. Returns the
    StreamingQuery."""
    from kartothek_spark.operators.contamination_index import (
        _bands_uuid,
        build_contamination_index,
        sync_contamination_index,
    )

    return _maintain(
        stream_df, root, index_uuid, checkpoint_dir, trigger,
        partial(build_contamination_index, text_col=text_col, id_col=id_col),
        partial(sync_contamination_index, text_col=text_col, id_col=id_col),
        also_owned=(_bands_uuid(index_uuid),),
    )


def stream_cluster_assign(
    stream_df: DataFrame,
    root: str,
    assign_uuid: str = "cluster_assign",
    centroids=None,
    model_root: str | None = None,
    model_uuid: str = "kmeans_model",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Streaming maintenance of the persisted cluster-assignment map
    (:mod:`~kartothek_spark.operators.clustering`): centroids come from
    the caller or are loaded ONCE from a persisted k-means model dataset
    (the offline-train / online-assign split); batch 0 builds the
    cluster-partitioned assignment dataset, every later micro-batch
    appends its vectors' assignments in one atomic O(batch) commit with
    the exactly-once ``(txn_id, batch_id)`` stamp inside the same
    transaction — a replayed batch is skipped, not double-appended.
    After the stream drains, the map equals the batch assignment over
    everything ingested (the gate's full value oracle). Returns the
    StreamingQuery."""
    from kartothek_spark.operators.clustering import (
        build_cluster_assignments,
        load_kmeans_model,
        sync_cluster_assignments,
    )

    spark = stream_df.sparkSession
    if centroids is None:
        centroids = load_kmeans_model(spark, model_root or root, model_uuid).centroids
    columns = dict(centroids=centroids, vec_col=vec_col, id_col=id_col)
    return _maintain(
        stream_df, root, assign_uuid, checkpoint_dir, trigger,
        partial(build_cluster_assignments, **columns),
        partial(sync_cluster_assignments, **columns),
    )


def stream_ingest_binary_files(
    spark,
    source_dir: str,
    root: str,
    dataset_uuid: str = "media",
    glob: str = "*",
    kind: str = "image",
    recursive: bool = False,
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Continuous raw-media ingestion: watch a directory with Spark's
    streaming ``binaryFile`` source (the checkpoint tracks processed
    files, so only NEW files enter each micro-batch) and commit every
    batch into the managed media dataset atomically with the
    exactly-once ``(txn_id, batch_id)`` stamp — the landing-zone →
    governed-table pipeline for image/audio/video drops. Same projection
    as the batch :func:`~kartothek_spark.operators.multimodal.read_binary_files`
    (modificationTime dropped: content-pure output). Returns the
    StreamingQuery."""
    from kartothek_spark.operators.multimodal import (
        BINARY_FILE_SCHEMA,
        _media_projection,
    )

    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", glob)
    )
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    media = _media_projection(reader.load(source_dir), kind)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            _append(root, dataset_uuid, batch_df, batch_id, checkpoint_dir)

    return _start(media, commit_batch, checkpoint_dir, trigger)


def stream_kmeans_update(
    stream_df: DataFrame,
    root: str,
    model_uuid: str = "kmeans_model",
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init_iters: int = 4,
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Streaming (mini-batch) k-means: batch 0 trains the model on its
    own rows (greedy init + Lloyd's), every later micro-batch folds its
    sufficient statistics — one vectorized Arrow pass producing at most
    k·(d+1) rows per partition — into the persisted model via the
    counts-weighted running-mean update (StreamingKMeans semantics with
    full memory, decay 1.0). The model dataset is the durable state:
    re-publishing it per batch is one atomic manifest commit carrying
    the exactly-once ``(txn_id, batch_id)`` stamp, so a replayed batch
    never double-counts its mass. Returns the StreamingQuery."""
    from kartothek_spark.operators.clustering import (
        _train_partials,
        kmeans_train,
        load_kmeans_model,
        merge_kmeans_stats,
        save_kmeans_model,
    )

    def train(spark, batch_df, root, uuid, extra_metadata) -> None:
        model = kmeans_train(batch_df, k, vec_col, id_col, iters=init_iters)
        save_kmeans_model(spark, model, root, uuid, extra_metadata=extra_metadata)

    def fold(spark, batch_df, root, uuid, extra_metadata) -> None:
        model = load_kmeans_model(spark, root, uuid)
        if model.k != k:
            # fail the stream loudly INSTEAD of inside merge_kmeans_stats
            # (a resumed stream with a different k would otherwise die
            # on an opaque NumPy shape mismatch mid-foreachBatch)
            raise ValueError(
                f"persisted model {uuid!r} has k={model.k}; stream "
                f"was started with k={k} — k is part of the model "
                "identity (delete the model dataset to retrain)"
            )
        d = len(model.centroids[0])
        partials = _train_partials(batch_df, model.centroids, vec_col).collect()
        merged = merge_kmeans_stats(model, partials, model.k, d)
        save_kmeans_model(spark, merged, root, uuid, extra_metadata=extra_metadata)

    return _maintain(stream_df, root, model_uuid, checkpoint_dir, trigger, train, fold)


def stream_bloom_index(
    stream_df: DataFrame,
    root: str,
    index_uuid: str = "bloom_index",
    text_col: str = "text",
    n: int = 8,
    m_bits: int | None = None,
    k: int | None = None,
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Streaming maintenance of the persisted Bloom contamination index
    (:mod:`~kartothek_spark.operators.bloom`): eval suites arrive as a
    stream; batch 0 builds the bitmap + key set, every later micro-batch
    appends its new shingle hashes and rebuilds the (tiny) bitmap from
    the persisted key set — the keys are the source of truth, so the
    bitmap is history-independent and a torn two-dataset commit
    self-heals on the next batch.

    ``m_bits=None`` sizes the bitmap from batch 0's key count — pass an
    explicit ``m_bits`` provisioned for the FULL expected key set when
    the first micro-batch is a small, unrepresentative fraction of the
    eval suites. Either way an undersized bitmap is not permanent:
    ``sync_bloom_index`` auto-resizes past 8 bits/key (full rebuild from
    the persisted keys, new size committed atomically with the words),
    so the prefilter's selectivity recovers on the first saturating
    sync.

    Exactly-once: the ``(txn_id, batch_id)`` stamp rides the WORDS
    dataset's commit, which both build and sync perform LAST — a crash
    before it replays the batch (the key append is a content-hash
    anti-join, so re-delivery appends nothing and the rebuild repairs
    the bitmap), a crash after it is detected and skipped. Returns the
    StreamingQuery."""
    from kartothek_spark.operators.bloom import (
        DEFAULT_BLOOM_K,
        _keys_uuid,
        build_bloom_index,
        sync_bloom_index,
    )

    return _maintain(
        stream_df, root, index_uuid, checkpoint_dir, trigger,
        partial(
            build_bloom_index, n=n, m_bits=m_bits, k=k or DEFAULT_BLOOM_K, text_col=text_col
        ),
        partial(sync_bloom_index, text_col=text_col),
        also_owned=(_keys_uuid(index_uuid),),
    )


def stream_clean_corpus(
    stream_df: DataFrame,
    root: str,
    out_uuid: str = "clean_corpus",
    bloom_root: str | None = None,
    bloom_uuid: str = "bloom_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    gopher: dict | None = None,
    fp_m_bits: int = 1 << 18,
    fp_k: int | None = None,
    buckets: int = 16,
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Continuous corpus cleaning (see :mod:`kartothek_spark.operators
    .pipeline`): each micro-batch runs Gopher filter → Bloom-indexed
    decontamination (against the persisted benchmark index at
    ``bloom_root``/``bloom_uuid``; skipped when ``bloom_root`` is None)
    → exact dedup within the batch AND against everything already
    committed, then appends the survivors to the managed ``out_uuid``
    dataset (partitioned on ``fpb``, files sorted by ``fp``).

    Cross-batch dedup never shuffles history: a sidecar
    ``<out_uuid>__fpbloom`` bitmap of every committed fingerprint
    prefilters the batch (codegen/NumPy, no join). PROVISION
    ``fp_m_bits`` for the corpus LIFETIME (>= 8 bits per document ever
    to be committed): the sidecar bitmap is merged with ``bit_or`` and
    never resized, so it is part of the dedup state's identity; once
    committed-docs * 8 exceeds it the prefilter saturates and every
    batch pays the full history verification scan (still exact — the
    contract degrades from O(candidate-trickle) to O(batch); a warning
    fires per batch past the threshold, from the manifest's free row
    stats). Only the candidate
    trickle is broadcast into one column-pruned SCAN of the history
    fingerprints for exact verification. Commit order: bitmap merge
    FIRST (bit_or is idempotent — a torn state only adds harmless
    false positives), cleaned rows LAST with the exactly-once
    ``(txn_id, batch_id)`` stamp. Under monotonic id arrival the
    drained output equals :func:`~kartothek_spark.operators.pipeline
    .clean_corpus` over everything ingested (the gate's full value
    oracle); out-of-order ids keep the first-seen copy instead.
    Returns the StreamingQuery.

    Precondition: ``id_col`` is unique across everything ingested. The
    within-batch dedup joins its min-id winners back by id, so a
    duplicated id can readmit a row that lost its fingerprint group."""
    from kartothek_spark.dataset.read import read_table
    from kartothek_spark.operators.bloom import (
        BLOOM_HASH_VERSION,
        DEFAULT_BLOOM_K,
        META_HASH_VERSION,
        bloom_decontaminate_indexed,
        bloom_member_scalar,
        bloom_words,
        dense_words,
    )
    from kartothek_spark.operators.pipeline import (
        keep_first_per_fingerprint,
        with_fingerprint,
    )
    from kartothek_spark.operators.text import _all_rules_pass, gopher_rules

    spark = stream_df.sparkSession
    txn_id = checkpoint_dir
    k = fp_k or DEFAULT_BLOOM_K
    fpbloom_uuid = f"{out_uuid}__fpbloom"

    def read_sidecar_checked() -> DataFrame:
        """Sidecar words, pinned eagerly (the caller's overwrite below
        replaces the very files this reads), with the same hash-version
        contract as the contamination index: the persisted bit
        positions are only valid under the hashing that derived them,
        and probing under a different version silently yields FALSE
        NEGATIVES — committed duplicates, the one failure a dedup
        prefilter must never have. A missing or mismatched stamp HEALS
        in place by rebuilding the bitmap from the committed ``fp``
        column (the version-free source of truth; absent history means
        every stale bit was a harmless never-committed false positive,
        so an empty rebuild is exact)."""
        stored = DatasetManifest.load(root, fpbloom_uuid).metadata.get(
            META_HASH_VERSION
        )
        if stored is not None and int(stored) == BLOOM_HASH_VERSION:
            return read_table(spark, root, fpbloom_uuid).localCheckpoint(eager=True)
        import warnings

        warnings.warn(
            f"dedup sidecar {fpbloom_uuid!r} carries hash version stamp "
            f"{'<none>' if stored is None else stored} (current "
            f"{BLOOM_HASH_VERSION}) — rebuilding the bitmap from the "
            "committed fingerprint column before probing",
            stacklevel=2,
        )
        if DatasetManifest.exists(root, out_uuid):
            fps = read_table(spark, root, out_uuid, columns=["fp"])
        else:
            fps = spark.createDataFrame([], "fp long")
        rebuilt = bloom_words(
            fps.select(F.col("fp").alias("kh")).distinct(), fp_m_bits, k
        ).localCheckpoint(eager=True)
        store_dataframe_as_dataset(
            spark, rebuilt, root, fpbloom_uuid,
            sort_partitions_by=["word_idx"], overwrite=True,
            metadata={META_HASH_VERSION: BLOOM_HASH_VERSION},
        )
        return rebuilt

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if _batch_already_committed(root, out_uuid, batch_id, txn_id):
            return
        stamp = _batch_stamp(batch_id, txn_id)

        # the rules without gopher_filter's scale_out: the fingerprint
        # dedup below shuffles the batch anyway, so an up-front round-robin
        # shuffle of the raw rows only adds work (on 4 cores, drains of
        # one-file batches of 150 to 60k docs ran 12-22% faster without it)
        survivors = batch_df.where(
            _all_rules_pass(gopher_rules(text_col, **(gopher or {})))
        )
        if bloom_root is not None:
            survivors = bloom_decontaminate_indexed(
                spark, survivors, bloom_root, bloom_uuid, text_col, id_col
            )
        kept = keep_first_per_fingerprint(
            with_fingerprint(survivors, text_col, buckets), id_col
        ).localCheckpoint(eager=True)

        exists = DatasetManifest.exists(root, out_uuid)
        side = None
        if exists:
            side = read_sidecar_checked()
            words = dense_words(side.collect(), fp_m_bits)
            cand = bloom_member_scalar(
                kept.select("fp").distinct(), "fp", words, fp_m_bits, k
            )
            # exact verification: ONE column-pruned scan of history
            # fingerprints with the candidate trickle broadcast — the
            # history side is never shuffled
            matched = (
                read_table(spark, root, out_uuid, columns=["fp"])
                .join(F.broadcast(cand), "fp")
                .distinct()
                .localCheckpoint(eager=True)
            )
            fresh = kept.join(matched, "fp", "left_anti")
        else:
            _purge_uncommitted_dataset_dir(root, out_uuid)
            _purge_uncommitted_dataset_dir(root, fpbloom_uuid)
            fresh = kept

        fresh = fresh.localCheckpoint(eager=True)
        # bitmap FIRST: bits for rows that never commit are harmless
        # false positives; missing bits for committed rows would be
        # missed duplicates, so the bitmap may never lag the data
        new_words = bloom_words(
            fresh.select(F.col("fp").alias("kh")).distinct(), fp_m_bits, k
        )
        # crash debris: the bitmap may be committed while the data is
        # not (bitmap-first ordering), so the merge condition is the
        # sidecar's own existence, not `exists`
        if side is None and DatasetManifest.exists(root, fpbloom_uuid):
            side = read_sidecar_checked()
        if side is not None:
            # `side` is already pinned eagerly (read_sidecar_checked),
            # so the merge never re-reads the files the store replaces
            merged = (
                side.unionByName(new_words)
                .groupBy("word_idx")
                .agg(F.bit_or("word").alias("word"))
            )
        else:
            merged = new_words
        store_dataframe_as_dataset(
            spark, merged, root, fpbloom_uuid,
            sort_partitions_by=["word_idx"], overwrite=True,
            metadata={META_HASH_VERSION: BLOOM_HASH_VERSION},
        )
        if exists:
            update_dataset(
                spark, fresh, root, out_uuid,
                sort_partitions_by=["fp"], metadata=stamp,
            )
        else:
            store_dataframe_as_dataset(
                spark, fresh, root, out_uuid,
                partition_on=["fpb"], sort_partitions_by=["fp"],
                metadata=stamp,
            )
        # saturation telemetry (same 8-bits/key line as sync_bloom_index,
        # which warns on the contamination index; this sidecar bitmap is
        # NEVER resized — fp_m_bits is part of the dedup state's identity
        # for the corpus lifetime, so the only fix is re-provisioning):
        # past this point every batch fingerprint becomes a broadcast
        # candidate into the history scan — still exact, but the
        # documented O(candidate-trickle) contract degrades to O(batch).
        # Committed-row count comes free from the manifest's partition
        # stats — no data scan.
        n_committed = sum(
            int(p.get("rows") or 0)
            for p in DatasetManifest.load(root, out_uuid).partitions.values()
        )
        if n_committed * 8 > fp_m_bits:
            import warnings

            warnings.warn(
                f"stream_clean_corpus {out_uuid!r}: {n_committed} committed "
                f"docs saturate the {fp_m_bits}-bit dedup prefilter "
                "(<8 bits/key) — every batch now pays the full history "
                "verification scan; re-provision fp_m_bits for the corpus "
                "lifetime (the sidecar bitmap is never resized)",
                stacklevel=2,
            )

    return _start(stream_df, commit_batch, checkpoint_dir, trigger)


def _stream_merge_sketch(
    stream_df: DataFrame,
    root: str,
    sketch_uuid: str,
    build_batch,
    merge_two,
    sort_cols: list[str],
    checkpoint_dir: str | None,
    trigger: dict[str, Any] | None,
):
    """Shared skeleton for mergeable-sketch maintenance (CMS sum / HLL
    max): each micro-batch's sketch folds into the persisted one in a
    SINGLE atomic overwrite commit carrying the exactly-once
    ``(txn_id, batch_id)`` stamp — one dataset, so there is no torn
    state at all. The merged frame is pinned eagerly before the
    overwrite (the merge reads the files the store replaces)."""
    from kartothek_spark.dataset.read import read_table

    def fold(spark, batch_df, root, uuid, extra_metadata, merge=True) -> None:
        sketch = build_batch(batch_df)
        if merge:
            sketch = merge_two(read_table(spark, root, uuid), sketch).localCheckpoint(eager=True)
        store_dataframe_as_dataset(
            spark, sketch, root, uuid,
            sort_partitions_by=sort_cols, metadata=extra_metadata, overwrite=True,
        )

    return _maintain(
        stream_df, root, sketch_uuid, checkpoint_dir, trigger, partial(fold, merge=False), fold
    )


def stream_cms_sketch(
    stream_df: DataFrame,
    root: str,
    sketch_uuid: str = "cms",
    text_col: str = "text",
    depth: int | None = None,
    width: int | None = None,
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Streaming Count-Min maintenance: per-batch sketches fold in by
    cell-wise SUM (CMS is mergeable), one atomic stamped commit per
    batch. The drained sketch equals the batch sketch over everything
    ingested — full value oracle. Returns the StreamingQuery."""
    from kartothek_spark.operators.sketch import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_sketch,
        merge_cms,
    )

    d = depth or CMS_DEPTH
    w = width or CMS_WIDTH
    return _stream_merge_sketch(
        stream_df, root, sketch_uuid,
        lambda b: cms_sketch(b, text_col, d, w),
        merge_cms,
        ["row", "col"], checkpoint_dir, trigger,
    )


def stream_hll_registers(
    stream_df: DataFrame,
    root: str,
    sketch_uuid: str = "hll",
    text_col: str = "text",
    p: int | None = None,
    group_cols: tuple[str, ...] = (),
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
):
    """Streaming HyperLogLog maintenance: per-batch registers fold in
    by register-wise MAX (idempotent — even a replayed batch could not
    corrupt the state), one atomic stamped commit per batch. The
    drained registers equal the batch build over everything ingested —
    full value oracle. Returns the StreamingQuery."""
    from kartothek_spark.operators.sketch import HLL_P, hll_registers, merge_hll

    pp = p or HLL_P
    return _stream_merge_sketch(
        stream_df, root, sketch_uuid,
        lambda b: hll_registers(b, text_col, pp, group_cols),
        lambda a, b: merge_hll(a, b, group_cols=group_cols),
        [*group_cols, "bucket"], checkpoint_dir, trigger,
    )
