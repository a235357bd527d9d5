"""Incremental maintenance over the snapshot history: one cursor step.

CDC-style consumers keep datasets equal to a function of a source by
reprocessing ONLY the rows appended since the last sync (beyond the
reference; semantics follow Delta CDF consumers). :func:`cursor_step` is
the protocol of :func:`sync_derived_dataset`, :func:`sync_aggregate_dataset`,
``operators/pq.py:sync_pq_index`` and
``operators/dedup_index.py:sync_minhash_index``:

* The cursor, the source version last synced, lives in the metadata of
  the sync's cursor dataset, so a pipeline is restartable.
* The snapshot is pinned: the source manifest is loaded once, at its live
  version N, and every source read of the sync (full read, drop check,
  changes feed, any re-read) comes from it. N is what the cursor records,
  so an append that commits during a sync is the next sync's change,
  neither processed twice nor skipped.
* The cursor commits last: the owned datasets commit in a fixed order
  with the cursor dataset last. A sync that fails before that commit
  leaves the cursor in place and the next sync redoes the whole delta; an
  owned dataset that committed before the failure gets the delta's rows
  again, which its readers must absorb. An initial build first clears
  every owned dataset's leftovers, so a torn build never wedges the sync.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from kartothek_spark.core.manifest import DatasetManifest
from kartothek_spark.dataset.read import label_changes, scan_labels

_SYNC_KEY = "ktk_sync"


@dataclass
class SyncPass:
    """One sync's view of its source, pinned at ``source.version``, as
    handed to a build or incremental body."""

    spark: SparkSession
    source: DatasetManifest
    mode: str  # "initial" | "refresh" | "incremental"
    added: list[str]  # source labels appended since the cursor
    owned: Sequence[str]  # commit order; the last one carries the cursor
    meta: dict[str, Any]  # the cursor entry every owned dataset commits

    def full(self) -> DataFrame:
        """The whole source at the pinned version."""
        return scan_labels(self.spark, self.source, sorted(self.source.partitions))

    def changes(self) -> DataFrame:
        """The rows appended between the cursor and the pinned version."""
        return scan_labels(self.spark, self.source, self.added)

    def commit(self, writes: dict[str, Callable[[dict[str, Any]], Any]]) -> None:
        """Run each owned dataset's write with the cursor metadata, in
        ``owned`` order: the cursor dataset commits last."""
        for uuid in self.owned:
            writes[uuid](self.meta)


def cursor_step(
    spark: SparkSession,
    key: str,
    identity: dict[str, Any],
    src_root: str,
    src_uuid: str,
    dst_root: str,
    owned: Sequence[str],
    build: Callable[[SyncPass], Any],
    incremental: Callable[[SyncPass], Any],
) -> tuple[str, int, Any]:
    """Advance a sync whose cursor is the ``key`` metadata entry of
    ``owned[-1]`` to the source's live version N. ``identity`` (source
    uuid plus any parameters that shape the output) must match the cursor
    entry. Runs ``build`` with no cursor dataset (``"initial"``) or when
    source labels were dropped since the cursor (``"refresh"``: a dropped
    row cannot be un-derived), else ``incremental``; returns ``(mode, N,
    body result)``, or ``("noop", N, None)`` when the cursor is at N."""
    from kartothek_spark.dataset.write import delete_dataset

    src = DatasetManifest.load(src_root, src_uuid)
    if not src.keep_history:
        raise ValueError(
            f"source dataset {src_uuid!r} does not keep history "
            "(write it with keep_history=True to enable incremental sync)"
        )
    target = owned[-1]
    mode, added, stored = "initial", [], {}
    if DatasetManifest.exists(dst_root, target):
        stored = DatasetManifest.load(dst_root, target).metadata.get(key) or {}
        recorded = {k: stored.get(k) for k in identity}
        if recorded != identity:
            raise ValueError(
                f"dataset {target!r} is not a sync target of {identity} (it "
                f"records {recorded}); the source and these parameters are "
                "part of the index identity — rebuild to change them"
            )
        cursor = int(stored["src_version"])
        if cursor == src.version:
            return "noop", src.version, None
        old = DatasetManifest.load(src_root, src_uuid, version=cursor)
        added, removed = label_changes(old, src)
        mode = "refresh" if removed else "incremental"
    if mode != "incremental":
        stored = {}
        for uuid in owned:
            delete_dataset(dst_root, uuid)
    meta = {key: {**stored, **identity, "src_version": src.version}}
    p = SyncPass(spark, src, mode, added, owned, meta)
    return mode, src.version, (incremental if mode == "incremental" else build)(p)


def sync_derived_dataset(
    spark: SparkSession,
    src_root: str,
    src_uuid: str,
    dst_root: str,
    dst_uuid: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    partition_on: Sequence[str] = (),
) -> dict[str, Any]:
    """Bring ``dst = transform(src)`` up to date with the source's live
    version. Returns ``{"mode", "src_version", "rows_processed"}``.

    * First call: full build from the live source (``mode="initial"``).
    * Appends only since the cursor: process ONLY the new files
      (``mode="incremental"`` — the scan never touches already-synced
      data; this is the hot path, O(new data)).
    * Source partitions were DROPPED since the cursor: a row-wise
      ``transform`` cannot un-derive their output, so the derived dataset
      is rebuilt from the live source (``mode="refresh"``). Correct for
      any transform; callers with delete-heavy sources should partition
      the derived dataset on the source's partition keys and mirror the
      delete_scope instead of relying on refresh.

    ``transform`` must be row-wise deterministic (filter / project /
    per-row derivation) for incremental == batch equivalence; aggregating
    transforms need the refresh path every time and are better served by
    the streaming operators."""
    from kartothek_spark.dataset.read import read_table
    from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset

    transform = transform or (lambda df: df)

    def build(p: SyncPass) -> int:
        out = transform(p.full())
        p.commit({dst_uuid: lambda meta: store_dataframe_as_dataset(
            spark, out, dst_root, dst_uuid, partition_on=partition_on, metadata=meta
        )})
        return read_table(spark, dst_root, dst_uuid).count()

    def incremental(p: SyncPass) -> int:
        changes = transform(p.changes())
        n = changes.count()
        p.commit({dst_uuid: lambda meta: update_dataset(
            spark, changes if n else None, dst_root, dst_uuid, metadata=meta
        )})
        return n

    mode, version, n = cursor_step(
        spark, _SYNC_KEY, {"src_uuid": src_uuid}, src_root, src_uuid,
        dst_root, (dst_uuid,), build, incremental,
    )
    return {"mode": mode, "src_version": version, "rows_processed": n or 0}


__all__ = ["sync_derived_dataset", "sync_aggregate_dataset"]


_AGG_SYNC_KEY = "ktk_agg_sync"
_MERGEABLE = {"sum", "count", "min", "max"}


def sync_aggregate_dataset(
    spark: SparkSession,
    src_root: str,
    src_uuid: str,
    dst_root: str,
    dst_uuid: str,
    group_by: Sequence[str],
    aggs: Sequence[tuple[str, str, str]],
    partition_on: Sequence[str] | None = None,
) -> dict[str, Any]:
    """Incrementally-maintained materialized aggregate:
    ``dst = src.groupBy(group_by).agg(...)`` kept in sync over the
    snapshot history with PARTITION-GRANULAR rewrites.

    ``aggs`` is ``[(out_col, fn, in_col), ...]`` with ``fn`` one of
    ``sum | count | min | max`` — the decomposable aggregates whose
    partials merge associatively (count merges as a sum of partial
    counts; avg = maintain sum and count, divide at read time). That
    restriction is what makes the maintenance O(delta): appended rows
    aggregate alone, and only the groups they touch are rewritten.

    ``partition_on`` (default: first group column) must be a prefix-subset
    of ``group_by``; it is the rewrite granule. Each sync:

    1. aggregates ONLY the appended files (changes feed),
    2. reads back just the affected partitions of the materialized view
       (partition-pruned read),
    3. re-merges old+delta partials for those groups, and
    4. commits ``delete_scope=affected ∪ append`` in ONE atomic manifest
       swap — untouched partitions keep their files byte-identical.

    Dropped source partitions force a full refresh (a lost row cannot be
    un-summed); sources that delete routinely should partition the view
    on the source's partition keys so drops map to scope deletes.

    Group columns in the ``partition_on`` prefix must be NON-NULL: group
    values become the view's partition keys (non-nullable by engine
    contract) and scope predicates cannot address a null label. A null
    group value fails the sync with an actionable error — COALESCE in the
    source or choose a different ``partition_on`` prefix.
    Returns ``{"mode", "src_version", "groups_rewritten"}``."""
    from pyspark.sql import functions as F

    from kartothek_spark.dataset.read import read_table
    from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset

    for _, fn, _ in aggs:
        if fn not in _MERGEABLE:
            raise ValueError(
                f"aggregate {fn!r} is not mergeable; supported: {sorted(_MERGEABLE)}"
            )
    group_by = list(group_by)
    partition_on = list(partition_on) if partition_on is not None else group_by[:1]
    if partition_on != group_by[: len(partition_on)]:
        raise ValueError(
            f"partition_on {partition_on} must be a prefix of group_by {group_by}"
        )

    def _first_agg(df):
        return df.groupBy(*group_by).agg(
            *[
                (F.count(in_col) if fn == "count" else getattr(F, fn)(in_col)).alias(out)
                for out, fn, in_col in aggs
            ]
        )

    def _merge_agg(df):
        # partial-merge: count partials re-merge as sums
        return df.groupBy(*group_by).agg(
            *[
                (F.sum(out) if fn in ("sum", "count") else getattr(F, fn)(out)).alias(out)
                for out, fn, _ in aggs
            ]
        )

    def build(p: SyncPass) -> int:
        out = _first_agg(p.full())

        def store(meta):
            try:
                store_dataframe_as_dataset(
                    spark, out, dst_root, dst_uuid, partition_on=partition_on, metadata=meta
                )
            except ValueError as exc:
                # translate the write layer's generic null-partition-key
                # abort into the same actionable message the incremental
                # path raises
                if "null values in partition keys" in str(exc):
                    raise ValueError(
                        f"sync_aggregate_dataset: NULL value in group column(s) used "
                        f"as view partition keys {partition_on}; filter or COALESCE "
                        f"nulls in the source, or choose a non-null partition_on "
                        f"prefix of group_by"
                    ) from None
                raise

        p.commit({dst_uuid: store})
        return read_table(spark, dst_root, dst_uuid).count()

    def incremental(p: SyncPass) -> int:
        delta = _first_agg(p.changes())
        scopes = [row.asDict() for row in delta.select(*partition_on).distinct().collect()]
        # group values become the view's partition keys, which are non-nullable
        # by engine contract (null-key raise, reference metapartition parity) —
        # and a (col, '==', None) scope predicate would never match a label.
        # Fail the sync with an actionable error instead of stalling on the
        # write's generic null-key abort.
        null_scopes = [s for s in scopes if any(v is None for v in s.values())]
        if null_scopes:
            raise ValueError(
                f"sync_aggregate_dataset: NULL value in group column(s) used as view "
                f"partition keys {partition_on} (e.g. {null_scopes[0]}); filter or "
                f"COALESCE nulls in the source, or choose a non-null partition_on "
                f"prefix of group_by"
            )
        merged = None
        if scopes:
            preds = [[(c, "==", scope[c]) for c in partition_on] for scope in scopes]
            old = read_table(spark, dst_root, dst_uuid, predicates=preds)
            merged = _merge_agg(old.unionByName(delta)).localCheckpoint(eager=True)
        p.commit({dst_uuid: lambda meta: update_dataset(
            spark, merged, dst_root, dst_uuid, delete_scope=scopes, metadata=meta
        )})
        return merged.count() if scopes else 0

    mode, version, n = cursor_step(
        spark, _AGG_SYNC_KEY, {"src_uuid": src_uuid}, src_root, src_uuid,
        dst_root, (dst_uuid,), build, incremental,
    )
    return {"mode": mode, "src_version": version, "groups_rewritten": n or 0}
