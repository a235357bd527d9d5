"""Dataset manifest: the single JSON document that *is* the dataset state.

Parity target: the reference's ``<UUID>.by-dataset-metadata.json`` —
``kartothek/core/dataset.py:62,519`` and
``docs/spec/format_specification.rst:196-228`` in /root/reference. All
state (partition list, schema, index pointers, user metadata) lives in one
document updated copy-on-write; the single atomic put/rename of this file
is the commit boundary. Planning a query therefore costs O(1) store round
trips: one manifest read + the needed index reads — never a directory
listing. At 100 TB / millions of files this is the difference between a
millisecond plan and a multi-minute S3 LIST storm.

Layout (mirrors the reference's so partition-column reconstruction from
hive-style ``K=V`` path segments keeps working):

    <root>/<uuid>.by-dataset-metadata.json
    <root>/<uuid>/table/K1=V1/K2=V2/<file_uuid>.parquet
    <root>/<uuid>/indices/<col>/<ts>.by-dataset-index.parquet
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import json
import os
import tempfile
import uuid as _uuid
from collections.abc import Mapping, MutableMapping
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import types as T

from kartothek_spark.core.urlencode import parse_partition_values

METADATA_VERSION = 4
TABLE = "table"  # single-table datasets (multi-table is deprecated upstream)
METADATA_SUFFIX = ".by-dataset-metadata.json"
# zstd-compressed manifest (reference `core/_zmsgpack.py` msgpack.zstd
# codec, io_components/write.py:232-235): at millions of partitions the
# manifest dominates plan latency and storage round-trips; the compressed
# codec keeps the SAME dict shape (compact JSON) under zstd via pyarrow —
# ~10x smaller, one object, still a single atomic put. JSON stays the
# default for debuggability (SURVEY §4.2 choice).
METADATA_SUFFIX_ZST = METADATA_SUFFIX + ".zst"
# Partition-list sidecar (Delta checkpoint analog): at ~1M partitions even
# the zstd JSON manifest spends its load time parsing the partition map.
# At or above this count commit() shards the partition list into a
# columnar parquet sidecar (<uuid>/_manifest/_partitions_v<N>_<token>.parquet,
# underscore-named so GC's bookkeeping rule skips it) and the manifest
# JSON keeps a pointer + count. Load reads it back with pyarrow —
# columnar decode instead of 1M-entry JSON parse. Every commit attempt
# writes its own sidecar (the token makes the name write-once); history
# snapshots of the same version share the winner's.
SIDECAR_THRESHOLD = 100_000
SIDECAR_DIR = "_manifest"


class CommitConflict(RuntimeError):
    """Another writer committed since this manifest state was loaded.

    Optimistic concurrency control, beyond the reference (which documents
    plain last-writer-wins): commit() swaps the live manifest only if it
    is still the object this state was loaded from — a compare-and-swap
    on the object's ETag, exact on every store (the local filesystem
    included, see :class:`ConditionalPutStore`). Mutation APIs catch this
    and rebase (:func:`kartothek_spark.dataset.write.update_dataset`)."""


class ConditionalPutStore:
    """SPEC.md §7's atomicity stance as a code seam.

    :meth:`DatasetManifest.commit` swaps the LIVE manifest object through
    ``put_if_match`` — S3 ``If-Match`` on the ETag observed at load, or
    ``If-None-Match: *`` (``expected_etag=None``) for creation. The local
    filesystem is the default implementation; an object-store adapter is
    attached per loaded manifest
    (:meth:`DatasetManifest.attach_conditional_store`). Duck-typed
    protocol (subclassing optional):

    - ``etag(path) -> str | None``: current ETag, None if absent.
    - ``put_if_match(path, data, expected_etag) -> str | None``:
      atomically write iff the object's ETag equals ``expected_etag``
      (None = must not exist); raise :class:`CommitConflict` otherwise.
      SHOULD return the new object's ETag (S3 PUT responses carry it):
      commit() uses the returned value as the next If-Match baseline, so
      a competitor landing right after the put still conflicts on the
      next commit. Returning None degrades to a follow-up ``etag()``
      read, which reopens that small lost-update window.
    - ``put(path, data) -> str | None``: unconditional write
      (``check_conflict=False`` deliberate-overwrite semantics); same
      return convention.

    Scope: only the live manifest object is conditional. Everything a
    commit writes BEFORE the swap — the partition sidecar — carries a
    per-attempt name no other writer can take, and the history snapshot
    is written by the swap's winner AFTER it (SPEC.md §6). Those files,
    like the parquet data files themselves, travel over the shared
    filesystem/data plane, not through this store adapter."""

    def etag(self, path: str) -> str | None:  # pragma: no cover - protocol
        raise NotImplementedError

    def put_if_match(
        self, path: str, data: bytes, expected_etag: str | None
    ) -> str | None:  # pragma: no cover - protocol
        raise NotImplementedError

    def put(
        self, path: str, data: bytes
    ) -> str | None:  # pragma: no cover - protocol
        raise NotImplementedError


def _etag(data: bytes) -> str:
    return hashlib.sha1(data).hexdigest()


@contextlib.contextmanager
def _dir_lock(path: str):
    """Exclusive ``flock`` on directory ``path``; the kernel releases it
    when the holder dies, so no stale lock can outlive a crash."""
    fd = os.open(path, os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)


class _FileStore(ConditionalPutStore):
    """The local filesystem as a :class:`ConditionalPutStore` — the
    default store of :meth:`DatasetManifest.commit`. ETag = sha1 of the
    object's bytes (the S3 contract for single-part objects); the compare
    and the rename happen under one lock on the manifest's directory."""

    def etag(self, path: str) -> str | None:
        try:
            with open(path, "rb") as fh:
                return _etag(fh.read())
        except FileNotFoundError:
            return None

    def put_if_match(self, path: str, data: bytes, expected_etag: str | None) -> str:
        with _dir_lock(os.path.dirname(path)):
            if self.etag(path) != expected_etag:
                what = ("was created concurrently" if expected_etag is None else
                        "changed since it was loaded — a concurrent writer committed")
                name = os.path.basename(path)
                raise CommitConflict(f"manifest {name!r} {what}; reload and rebase")
            _atomic_write(path, data)
        return _etag(data)

    def put(self, path: str, data: bytes) -> str:
        with _dir_lock(os.path.dirname(path)):
            _atomic_write(path, data)
        return _etag(data)


_FILE_STORE = _FileStore()


_SAFE_SEGMENT = None  # compiled lazily (regex import cost at module load)


class _SidecarPartitions(MutableMapping):
    """Partition map backed lazily by the parquet sidecar's arrow columns
    (fast-path sidecars only: every entry is a pure ``{"file": ...}``).

    Planning touches LABELS, not entries — ``query()`` iterates labels,
    ``dispatch_labels`` sorts/intersects them — so load defers the
    expensive part: at 1M partitions, building the inner dicts costs
    ~2 s of driver time while the parquet decode itself is ~0.2 s
    (measured; see BENCH_NOTES ``manifest_plan_1m``). Iteration, ``len``
    and membership never materialize; the first ENTRY access (read or
    write) builds the full dict once and delegates from then on, so
    mutation semantics — including callers that mutate a returned entry
    in place — are exactly a dict's."""

    __slots__ = (
        "_labels_arr", "_files_arr", "_labels", "_set", "_dict", "_files",
        "source_path",
    )

    def __init__(self, labels_arr, files_arr, source_path: str | None = None):
        self._labels_arr = labels_arr  # pyarrow (Chunked)Array[string]
        self._files_arr = files_arr
        self._labels: list | None = None  # built on first iteration
        self._set: set | None = None  # built on first membership test
        self._dict: dict | None = None  # built on first entry access
        self._files: dict | None = None  # flat label->file, read-only path
        # sidecar file these columns were decoded from: while the map is
        # unmaterialized it is PROVABLY byte-identical to that file
        # (entry mutation requires materialization), so a metadata-only
        # commit can copy the file instead of re-encoding 1M rows
        self.source_path = source_path

    # -- lazy accessors ------------------------------------------------------
    def label_list(self) -> list:
        if self._dict is not None:
            return list(self._dict)
        if self._labels is None:
            self._labels = self._labels_arr.to_pylist()
        return self._labels

    def arrow_labels(self):
        """Label column as a pyarrow array while still lazy, else None —
        ``DatasetManifest.query``'s vectorized fast path."""
        return None if self._dict is not None else self._labels_arr

    def arrow_columns(self):
        """(labels, files) arrow arrays while still lazy, else None —
        ``_write_partitions_sidecar``'s rewrite fast path."""
        if self._dict is not None:
            return None
        return self._labels_arr, self._files_arr

    def get_file(self, label: str) -> str | None:
        """One label's file WITHOUT materializing the inner dicts — the
        read-only lookup behind :meth:`DatasetManifest.file_path`, so the
        first data read of a pruned partition costs a flat str->str dict
        (one arrow ``to_pylist`` + zip) instead of ~2 s of per-entry dict
        building at 1M partitions. Falls through to the real dict once
        any mutation path has materialized it."""
        if self._dict is not None:
            entry = self._dict.get(label)
            return None if entry is None else entry.get("file")
        if self._files is None:
            self._files = dict(zip(self.label_list(), self._files_arr.to_pylist()))
        return self._files.get(label)

    def _materialize(self) -> dict:
        if self._dict is None:
            labels = self.label_list()
            files = self._files_arr.to_pylist()
            self._dict = {lbl: {"file": f} for lbl, f in zip(labels, files)}
            self._labels = None
            self._set = None
            self._files = None  # entries are now mutable; flat view is stale
        return self._dict

    # -- read-only views that stay lazy --------------------------------------
    def __len__(self) -> int:
        return len(self._dict) if self._dict is not None else len(self._labels_arr)

    def __iter__(self):
        return iter(self.label_list())

    def __contains__(self, key) -> bool:
        if self._dict is not None:
            return key in self._dict
        if self._set is None:
            self._set = set(self.label_list())
        return key in self._set

    # -- entry access / mutation: materialize once, then delegate ------------
    def __getitem__(self, key):
        return self._materialize()[key]

    def __setitem__(self, key, value) -> None:
        self._materialize()[key] = value

    def __delitem__(self, key) -> None:
        del self._materialize()[key]

    def __eq__(self, other):
        if isinstance(other, _SidecarPartitions):
            other = other._materialize()
        if isinstance(other, Mapping):
            return self._materialize() == dict(other)
        return NotImplemented

    def __repr__(self) -> str:
        if self._dict is not None:
            return repr(self._dict)
        return f"<_SidecarPartitions: {len(self)} labels, entries not materialized>"


def _equality_segments(predicates, casters) -> list[list[str]] | None:
    """For a DNF of pure partition-key equality conjunctions whose
    literals render into the path-escaping identity charset, return the
    ``"k=v/"``-style segments to string-match; None → use the parse loop.

    Renderings mirror the hive writer exactly for the supported types:
    int → decimal string, date → ISO, str → itself (safe chars only).
    bool/float/timestamp render differently than ``str()`` and are left
    to the strict path. The literal's python type must agree with the
    column's type class — a mismatched literal must keep flowing into the
    strict path so the type-stability guard raises, not silently match."""
    import datetime
    import re

    global _SAFE_SEGMENT
    if _SAFE_SEGMENT is None:
        _SAFE_SEGMENT = re.compile(r"[A-Za-z0-9_.\-]+\Z")
    if not predicates:
        return None
    segs_dnf: list[list[str]] = []
    for conj in predicates:
        segs = []
        for item in conj:
            if len(item) != 3:
                return None
            k, op, v = item
            dt = casters.get(k)
            if op != "==" or dt is None or isinstance(v, bool):
                return None
            if isinstance(v, int) and isinstance(
                dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                s = str(v)
            elif (
                isinstance(v, datetime.date)
                and not isinstance(v, datetime.datetime)
                and isinstance(dt, T.DateType)
            ):
                s = v.isoformat()
            elif isinstance(v, str) and isinstance(dt, T.StringType):
                s = v
            else:
                return None
            if not _SAFE_SEGMENT.match(s):
                return None
            segs.append(f"/{k}={s}/")
        segs_dnf.append(segs)
    return segs_dnf


def _typed_value(raw: str, dt: T.DataType, binary_codec: str = "hex") -> Any:
    """Cast a path-string partition value to its schema type (primary-index
    reconstruction; reference ``metapartition.py:920-980``).

    ``binary_codec`` selects the path rendering of BinaryType keys:
    ``"hex"`` is the engine's own layout (``x`` + lowercase hex — inert
    under Spark's path escaping, immune to partition type inference, and
    order-preserving); ``"percent"`` is the reference's layout (URL
    percent-encoding of the raw bytes), used for imported-in-place
    datasets (``external_root``) — the surrogateescape str from
    :func:`kartothek_spark.core.urlencode.unquote` re-encodes to the
    exact original bytes."""
    import datetime

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(raw)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(raw)
    if isinstance(dt, T.BooleanType):
        return raw.lower() in ("true", "1")
    if isinstance(dt, T.DateType):
        return datetime.date.fromisoformat(raw)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return datetime.datetime.fromisoformat(raw.replace(" ", "T"))
    if isinstance(dt, T.BinaryType):
        if binary_codec == "percent":
            # mirror of urlencode.unquote's surrogateescape: recovers
            # the exact original bytes of a reference-layout value
            return raw.encode("utf-8", "surrogateescape")
        if not raw.startswith("x"):
            raise ValueError(
                f"binary partition value {raw!r} lacks the engine's "
                "x<hex> rendering"
            )
        return bytes.fromhex(raw[1:])
    return raw


@dataclass
class DatasetManifest:
    dataset_uuid: str
    root: str  # dataset collection root (directory / bucket prefix)
    schema: T.StructType
    partition_keys: list[str] = field(default_factory=list)
    # label -> {"file": relpath, "rows": int | None}
    partitions: dict[str, dict[str, Any]] = field(default_factory=dict)
    # indexed column -> relpath of index parquet (secondary inverted indices)
    indices: dict[str, str] = field(default_factory=dict)
    metadata: dict[str, Any] = field(default_factory=dict)
    metadata_version: int = METADATA_VERSION
    # payload file format: "parquet" (default), "csv", "csv.gz" (gzip CSV)
    # or "jsonl" (reference S3/S4 format dispatch,
    # serialization/_generic.py:37-154 — CSV keeps parity with the
    # reference: no pushdown, schema supplied by the manifest)
    table_format: str = "parquet"
    # hash-bucketing spec (reference S20 `_hash_bucket`, _shuffle.py:23-37):
    # rows are hash-distributed on bucket_by into num_buckets path-encoded
    # sub-partitions, so equality reads on bucket_by prune to one bucket
    bucket_by: list[str] = field(default_factory=list)
    num_buckets: int | None = None
    # manifest codec: "json" (default, debuggable) or "zstd" (compact JSON
    # under zstd — the scale choice; see METADATA_SUFFIX_ZST note)
    storage_format: str = "json"
    # monotone snapshot version: every commit is a new version. With
    # keep_history=True each commit also writes an immutable snapshot copy
    # under <uuid>/_history/, enabling time-travel reads
    # (``read_table(as_of=...)``) and incremental changes-since feeds —
    # Delta/Iceberg-style capabilities the reference lacks (its manifest is
    # single-version last-writer-wins, io_components/write.py:232-235).
    # Snapshot files are one small metadata object per commit; data files
    # are shared across versions (mutations never rewrite rows), so the
    # storage cost of history is manifests only until expire_snapshots +
    # GC reclaim replaced payload files.
    version: int = 1
    keep_history: bool = False
    # UTC ISO timestamp of the commit that produced this state (stamped by
    # commit(); enables timestamp-based time travel — "AS OF <ts>" picks
    # the newest retained version committed at or before the instant)
    committed_at: str | None = None
    # content columns with per-file min/max statistics kept in the manifest
    # (Delta/Iceberg-style data skipping, beyond the reference's partition
    # + secondary-index pruning): each partition entry gains
    # {"stats": {col: {"min": v, "max": v, "nulls": n}}} collected from
    # parquet footers by a distributed job at write time (non-parquet
    # formats: one column-pruned scan aggregation per write instead — see
    # dataset/metadata.py _scan_file_stats). The planner can
    # then drop files whose [min, max] can't satisfy a conjunction WITHOUT
    # opening them — at 100 TB the difference between touching thousands
    # of footers and touching none.
    stats_columns: list[str] = field(default_factory=list)
    # stats-convention version. Format 1 (legacy) collectors recorded
    # nulls=0 when a foreign footer OMITTED null_count, so a zero null
    # count cannot be trusted for IS-NULL / != file skipping; format 2
    # omits the "nulls" key when unknown. The planner only performs
    # null-count-based skipping at format >= 2 — re-run stats collection
    # (or rewrite) to upgrade a legacy dataset.
    stats_format: int = 1
    # zero-copy EXTERNAL dataset (attach_dataset): payload files live in a
    # pre-existing directory outside <root>/<uuid>/table; entries store
    # data_root-relative paths, scans anchor basePath here, and the engine
    # never deletes external payload files (GC walks only <root>/<uuid>;
    # delete_dataset removes metadata/indices only — a zero-copy detach).
    # The value is root-RELATIVE when the external dir lives under root
    # (relocatable dataset), absolute otherwise; legacy manifests with
    # absolute file entries keep resolving (os.path.join passes absolutes
    # through unchanged)
    external_root: str | None = None
    # columns with parquet bloom filters embedded in every payload file
    # (reader-side row-group skipping for point lookups; recorded so the
    # update path keeps writing them for new files)
    bloom_columns: list[str] = field(default_factory=list)
    # CHECK constraints (Delta-style): {name: SQL boolean expression} —
    # enforced on EVERY write (store/update/upsert/stream ingest) as an
    # assertion riding the write scan itself; a violating batch fails
    # before any manifest change, so committed data always satisfies them
    constraints: dict[str, str] = field(default_factory=dict)
    # hidden (Iceberg-style) partition transforms:
    # {partition_col: {"fn": "day"|"month"|"year"|"truncate:<w>", "src": col}}
    # — writers derive these columns, readers hide them, and the planner
    # widens raw-column predicates to partition level (core/transforms.py)
    partition_transforms: dict[str, dict[str, str]] = field(default_factory=dict)
    # True once the partition list lives in a parquet sidecar (set
    # automatically at SIDECAR_THRESHOLD; sticky so the layout never
    # flaps back to inline on a shrink)
    partitions_sidecar: bool = field(default=False, compare=False)
    # True once this in-memory state corresponds to a committed manifest —
    # the next commit() then advances the version (never serialized)
    _persisted: bool = field(default=False, repr=False, compare=False)
    # SPEC.md §7 seam: the object-store adapter the live manifest swap goes
    # through (attach_conditional_store); None = the local filesystem
    # store (never serialized)
    _cond_store: Any = field(default=None, repr=False, compare=False)
    # the store ETag this state was loaded against (the If-Match value)
    _loaded_etag: str | None = field(default=None, repr=False, compare=False)
    # root-relative path of the sidecar for the version being written
    # (set by commit(); never serialized as state — the serialized form
    # is the "partitions_ref" pointer itself)
    _sidecar_ref: str | None = field(default=None, repr=False, compare=False)

    # -- paths --------------------------------------------------------------
    @property
    def manifest_path(self) -> str:
        suffix = METADATA_SUFFIX_ZST if self.storage_format == "zstd" else METADATA_SUFFIX
        return os.path.join(self.root, self.dataset_uuid + suffix)

    @property
    def data_root(self) -> str:
        if self.external_root:
            # relative external roots anchor at root (relocatable attach)
            return os.path.join(self.root, self.external_root)
        return os.path.join(self.root, self.dataset_uuid, TABLE)

    def payload_entry(self, rel: str) -> str:
        """The value stored in a partition entry's ``file`` field for a
        payload file at ``rel`` under :attr:`data_root` — root-relative
        for managed datasets, data_root-relative for external ones
        (``file_path`` resolves both; legacy absolute entries pass
        through ``os.path.join`` unchanged)."""
        if self.external_root:
            return rel
        return os.path.join(self.dataset_uuid, TABLE, rel)

    @property
    def index_root(self) -> str:
        return os.path.join(self.root, self.dataset_uuid, "indices")

    @property
    def history_root(self) -> str:
        return os.path.join(self.root, self.dataset_uuid, "_history")

    def history_path(self, version: int) -> str:
        # snapshot files are underscore-prefixed: Hadoop-invisible, so
        # scans and GC's payload walk never see them
        suffix = ".json.zst" if self.storage_format == "zstd" else ".json"
        return os.path.join(self.history_root, f"_v{version:08d}.manifest{suffix}")

    def file_path(self, label: str) -> str:
        parts = self.partitions
        get_file = getattr(parts, "get_file", None)
        if get_file is not None:  # lazy sidecar map: don't materialize
            file = get_file(label)
            if file is None:
                raise KeyError(label)
        else:
            file = parts[label]["file"]
        if self.external_root:
            return os.path.join(self.data_root, file)
        return os.path.join(self.root, file)

    def files(self, labels: list[str] | None = None) -> list[str]:
        labels = list(self.partitions) if labels is None else labels
        return [self.file_path(lbl) for lbl in labels]

    @property
    def binary_codec(self) -> str:
        """Path rendering of BinaryType partition keys: ``"hex"`` for the
        engine's own layout (``x<hex>`` directory segments), ``"percent"``
        for attached-in-place reference datasets (``external_root``). The
        SINGLE source of truth — the planner (:meth:`query`), the label
        parser (:meth:`partition_values`) and the read paths all consult
        this so label encoding and decoding can never diverge."""
        return "percent" if self.external_root else "hex"

    # -- primary index (partition values parsed from labels) ----------------
    def partition_values(self, label: str) -> dict[str, Any]:
        raw = parse_partition_values(label, self.partition_keys)
        by_name = {f.name: f.dataType for f in self.schema.fields}
        return {
            k: _typed_value(v, by_name[k], binary_codec=self.binary_codec)
            for k, v in raw.items()
        }

    def query(self, predicates=None, **kwargs: Any) -> list[str]:
        """Partition labels surviving partition-key predicate evaluation
        (reference ``core/dataset.py:317-347``). ``kwargs`` are equality
        shorthands (``delete_scope`` style).

        Driver-side planning must stay sub-second at 100 TB manifest
        scale (200k+ files — see BENCH_NOTES.md), so the loop avoids
        per-label overhead: the schema caster map is hoisted out of the
        loop, percent-decoding runs only on values that contain '%', and
        labels sharing one hive directory evaluate ONCE (the per-dir
        decision is cached — with f files per partition dir this divides
        the work by f)."""
        from kartothek_spark.core.predicates import evaluate_predicates_py
        from kartothek_spark.core.urlencode import unquote

        if kwargs:
            extra = [[(k, "==", v) for k, v in kwargs.items()]]
            predicates = extra if predicates is None else [
                list(conj) + eq for conj in predicates for eq in extra
            ]
        if not self.partition_keys or predicates is None:
            return list(self.partitions)

        by_name = {f.name: f.dataType for f in self.schema.fields}
        key_set = set(self.partition_keys)
        casters = {k: by_name[k] for k in self.partition_keys if k in by_name}

        # ==-only fast path (the dominant shape at manifest scale: point
        # dispatch, delete_scope resolution): render each literal to its
        # path segment and match whole segments by string containment —
        # no per-label parse at all. Only taken when every rendered value
        # is in the identity charset of the writer's path escaping
        # (ints, dates, plain strings); anything else falls through to
        # the parsing loop, so the fast path cannot change results.
        # EXTERNAL (attached) datasets never take it: a foreign hive
        # writer may use non-canonical renderings (zero-padded ints,
        # unpadded dates) that parse to the same typed value but would
        # not string-match — only the engine's own labels are canonical.
        segs_dnf = None if self.external_root else _equality_segments(predicates, casters)
        if segs_dnf is not None:
            # "/k=v/" can only match a directory segment (the trailing
            # file segment has no terminating slash), so one leading
            # slash is enough: seg in "/"+lbl  ⇔  lbl.startswith(seg[1:])
            # or seg in lbl — the startswith/contains form avoids a
            # string concat per label, and on a still-lazy sidecar map
            # the whole match runs vectorized over the arrow label column
            # (no 1M-string materialization on the planning path at all)
            arrow_labels = getattr(self.partitions, "arrow_labels", None)
            arr = arrow_labels() if arrow_labels is not None else None
            if arr is not None:
                import pyarrow.compute as pc

                mask = None
                for conj in segs_dnf:
                    m = None
                    for seg in conj:
                        sm = pc.or_(
                            pc.starts_with(arr, seg[1:]), pc.match_substring(arr, seg)
                        )
                        m = sm if m is None else pc.and_(m, sm)
                    if m is None:
                        # empty conjunction matches every label — mirror
                        # the dict-backed path, whose all() over an empty
                        # conj is vacuously true (None here would raise on
                        # filter() or null-propagate labels away in or_())
                        return arr.to_pylist()
                    mask = m if mask is None else pc.or_(mask, m)
                return arr.filter(mask).to_pylist()
            if len(segs_dnf) == 1 and len(segs_dnf[0]) == 1:
                seg = segs_dnf[0][0]  # single point predicate: tightest loop
                head = seg[1:]
                return [
                    lbl
                    for lbl in self.partitions
                    if lbl.startswith(head) or seg in lbl
                ]
            return [
                lbl
                for lbl in self.partitions
                if any(
                    all(lbl.startswith(seg[1:]) or seg in lbl for seg in conj)
                    for conj in segs_dnf
                )
            ]

        decisions: dict[str, bool] = {}
        out = []
        for label in self.partitions:
            prefix = label.rpartition("/")[0]
            dec = decisions.get(prefix)
            if dec is None:
                values: dict[str, Any] = {}
                for seg in prefix.split("/"):
                    eq = seg.find("=")
                    if eq > 0:
                        k = seg[:eq]
                        if k in key_set:
                            v = seg[eq + 1:]
                            if "%" in v:
                                v = unquote(v)
                            values[k] = _typed_value(
                                v, casters[k], binary_codec=self.binary_codec
                            )
                if len(values) < len(key_set):
                    # fall back to the strict parser (raises with the
                    # missing-keys message) for malformed labels
                    values = self.partition_values(label)
                dec = bool(evaluate_predicates_py(predicates, values))
                decisions[prefix] = dec
            if dec:
                out.append(label)
        return out

    # -- (de)serialization ---------------------------------------------------
    def to_dict(self) -> dict[str, Any]:
        parts = (
            {"partitions_ref": self._sidecar_ref, "n_partitions": len(self.partitions)}
            if self._sidecar_ref
            # a lazy sidecar map must render as a real dict here (the
            # inline form is JSON-serialized; json treats a non-dict
            # Mapping as an opaque object)
            else {
                "partitions": self.partitions
                if isinstance(self.partitions, dict)
                else dict(self.partitions)
            }
        )
        return {
            "dataset_metadata_version": self.metadata_version,
            "dataset_uuid": self.dataset_uuid,
            "metadata": self.metadata,
            "partition_keys": self.partition_keys,
            "schema": json.loads(self.schema.json()),
            **parts,
            "indices": self.indices,
            "format": self.table_format,
            "version": self.version,
            **({"keep_history": True} if self.keep_history else {}),
            **({"committed_at": self.committed_at} if self.committed_at else {}),
            **(
                {"bucket_by": self.bucket_by, "num_buckets": self.num_buckets}
                if self.num_buckets
                else {}
            ),
            **({"stats_columns": self.stats_columns} if self.stats_columns else {}),
            **({"stats_format": self.stats_format} if self.stats_format != 1 else {}),
            **({"bloom_columns": self.bloom_columns} if self.bloom_columns else {}),
            **(
                {"partition_transforms": self.partition_transforms}
                if self.partition_transforms
                else {}
            ),
            **({"constraints": self.constraints} if self.constraints else {}),
            **({"external_root": self.external_root} if self.external_root else {}),
        }

    @classmethod
    def from_dict(cls, d: dict[str, Any], root: str) -> "DatasetManifest":
        if d.get("partitions_ref"):
            partitions = _read_partitions_sidecar(
                os.path.join(root, d["partitions_ref"])
            )
            if len(partitions) != int(d.get("n_partitions", len(partitions))):
                raise ValueError(
                    f"partition sidecar {d['partitions_ref']!r} holds "
                    f"{len(partitions)} entries, manifest says "
                    f"{d.get('n_partitions')} — corrupt or truncated"
                )
        else:
            partitions = dict(d.get("partitions", {}))
        return cls(
            dataset_uuid=d["dataset_uuid"],
            root=root,
            schema=T.StructType.fromJson(d["schema"]),
            partition_keys=list(d.get("partition_keys", [])),
            partitions=partitions,
            partitions_sidecar=bool(d.get("partitions_ref")),
            indices=dict(d.get("indices", {})),
            metadata=dict(d.get("metadata", {})),
            metadata_version=d.get("dataset_metadata_version", METADATA_VERSION),
            table_format=d.get("format", "parquet"),
            bucket_by=list(d.get("bucket_by", [])),
            num_buckets=d.get("num_buckets"),
            stats_columns=list(d.get("stats_columns", [])),
            stats_format=int(d.get("stats_format", 1)),
            bloom_columns=list(d.get("bloom_columns", [])),
            partition_transforms=dict(d.get("partition_transforms", {})),
            constraints=dict(d.get("constraints", {})),
            external_root=d.get("external_root"),
            committed_at=d.get("committed_at"),
            version=int(d.get("version", 1)),
            keep_history=bool(d.get("keep_history", False)),
        )

    @classmethod
    def _load_raw_dict(cls, root: str, dataset_uuid: str) -> tuple[dict, str, str]:
        """The live manifest dict as stored, its codec and its ETag — no
        sidecar resolution (that happens in ``from_dict``)."""
        got = _read_manifest(os.path.join(root, dataset_uuid + METADATA_SUFFIX))
        if got is None:
            raise FileNotFoundError(f"dataset {dataset_uuid!r} has no manifest in {root!r}")
        return got

    @classmethod
    def load(cls, root: str, dataset_uuid: str, version: int | None = None) -> "DatasetManifest":
        if version is not None:
            return cls._load_snapshot(root, dataset_uuid, version)
        d, codec, etag = cls._load_raw_dict(root, dataset_uuid)
        while True:
            try:
                m = cls.from_dict(d, root)
                break
            except FileNotFoundError:
                # the sidecar this manifest points at is gone: a later
                # commit superseded and cleaned it up. Read the live
                # manifest again — unless it has not moved, in which case
                # the dataset really is damaged
                seen, (d, codec, etag) = etag, cls._load_raw_dict(root, dataset_uuid)
                if etag == seen:
                    raise
        m.storage_format = codec
        m._persisted = True
        m._loaded_etag = etag
        return m

    @classmethod
    def _load_snapshot(cls, root: str, dataset_uuid: str, version: int) -> "DatasetManifest":
        """Time-travel load: the immutable snapshot committed as ``version``.
        The LIVE manifest at the same version number is the same state, so
        asking for the current version works even before any history file
        exists at it (commit writes the snapshot after the live swap)."""
        hist = os.path.join(root, dataset_uuid, "_history")
        got = _read_manifest(os.path.join(hist, f"_v{version:08d}.manifest.json"))
        if got is None:
            live = cls.load(root, dataset_uuid)
            if live.version == version:
                return live
            raise ValueError(
                f"dataset {dataset_uuid!r} has no snapshot v{version} "
                f"(live version is v{live.version}; was it written with "
                "keep_history=True, or has the snapshot been expired?)"
            )
        d, codec, etag = got
        m = cls.from_dict(d, root)
        m.storage_format = codec
        m._persisted = True
        # a snapshot holds the live manifest's exact bytes of its version
        m._loaded_etag = etag
        return m

    @classmethod
    def list_versions(cls, root: str, dataset_uuid: str) -> list[int]:
        """All readable versions: retained history snapshots + the live one."""
        out = set()
        hist = os.path.join(root, dataset_uuid, "_history")
        if os.path.isdir(hist):
            for name in os.listdir(hist):
                if name.startswith("_v") and ".manifest" in name:
                    out.add(int(name[2:10]))
        out.add(cls.load(root, dataset_uuid).version)
        return sorted(out)

    @classmethod
    def version_at(cls, root: str, dataset_uuid: str, timestamp: str) -> int:
        """Newest retained version committed at or before the ISO-8601
        instant (naive inputs are taken as UTC) — "AS OF <timestamp>"
        resolution over the retained history + live version."""
        import datetime as _dt

        def parse(s: str) -> _dt.datetime:
            t = _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
            return t if t.tzinfo else t.replace(tzinfo=_dt.timezone.utc)

        target = parse(timestamp)
        best: int | None = None
        for v in cls.list_versions(root, dataset_uuid):
            m = cls.load(root, dataset_uuid, version=v)
            if m.committed_at and parse(m.committed_at) <= target:
                best = v
        if best is None:
            raise ValueError(
                f"dataset {dataset_uuid!r} has no retained version committed "
                f"at or before {timestamp!r}"
            )
        return best

    @classmethod
    def exists(cls, root: str, dataset_uuid: str) -> bool:
        return os.path.exists(
            os.path.join(root, dataset_uuid + METADATA_SUFFIX)
        ) or os.path.exists(os.path.join(root, dataset_uuid + METADATA_SUFFIX_ZST))

    def commit(self, check_conflict: bool = True) -> None:
        """Atomic commit with optimistic concurrency (beyond the
        reference's last-writer-wins): the live manifest is swapped through
        ``put_if_match`` on the ETag this state was loaded from (must not
        exist for a new dataset) — of the local filesystem store, or of an
        attached :class:`ConditionalPutStore`. If a concurrent writer got
        there first, :class:`CommitConflict` is raised and the version bump
        rolled back; callers reload and re-apply (see
        ``update_dataset(max_conflict_retries=...)``).
        ``check_conflict=False`` is a deliberate unconditional overwrite.

        The partition sidecar written before the swap has a per-attempt
        name, so a losing or crashed writer leaves only an orphan; the
        history snapshot is written from the committed bytes after the
        swap. On a sidecar dataset commit() may rebind ``self.partitions``
        to the lazy map a reload would produce, so a reference to the map
        taken before the commit no longer tracks this manifest."""
        store = self._cond_store or _FILE_STORE
        if self._persisted:
            self.version += 1
        import datetime as _dt

        self.committed_at = _dt.datetime.now(_dt.timezone.utc).isoformat()
        os.makedirs(self.root, exist_ok=True)
        # partition-list sidecar (Delta checkpoint analog): written BEFORE
        # the live manifest that points at it, under a name unique to this
        # attempt; a crash or a lost race leaves an underscore-named orphan
        if self.partitions_sidecar or len(self.partitions) >= SIDECAR_THRESHOLD:
            self.partitions_sidecar = True
            name = f"_partitions_v{self.version:08d}_{os.urandom(4).hex()}.parquet"
            self._sidecar_ref = os.path.join(self.dataset_uuid, SIDECAR_DIR, name)
            adopted = _write_partitions_sidecar(
                os.path.join(self.root, self._sidecar_ref), self.partitions
            )
            if adopted is not None and adopted is not self.partitions:
                # leave the manifest exactly as a reload would: the lazy
                # map over the just-encoded columns. The next metadata-
                # only commit then copies the sidecar file instead of
                # re-encoding 1M entries; any entry mutation
                # materializes dicts again (dict semantics preserved).
                self.partitions = adopted
        else:
            self._sidecar_ref = None
        data = self._serialize()
        try:
            if check_conflict:
                expected = self._loaded_etag if self._persisted else None
                new_etag = store.put_if_match(self.manifest_path, data, expected)
            else:
                new_etag = store.put(self.manifest_path, data)
        except CommitConflict:
            # this state was NOT committed; the caller reloads and rebases
            if self._persisted:
                self.version -= 1
            raise
        # the PUT's own ETag is the next If-Match baseline; a follow-up
        # etag() read could observe a competitor that landed after our
        # put and silently adopt it as baseline
        self._loaded_etag = new_etag or store.etag(self.manifest_path)
        self._persisted = True
        if self.keep_history:
            # until this lands, load(version=N) serves the live manifest
            _atomic_write(self.history_path(self.version), data)
        elif self._sidecar_ref:
            # no time travel -> sidecars of older versions are unreferenced
            # now (a newer attempt's may still be in flight: keep those);
            # with keep_history, expire_snapshots owns their lifetime
            for v, path in _sidecars(self.root, self.dataset_uuid):
                if v < self.version:
                    with contextlib.suppress(OSError):
                        os.unlink(path)

    def attach_conditional_store(self, store: "ConditionalPutStore") -> None:
        """Route this manifest's live swaps through ``store``'s
        conditional put (SPEC.md §7). Captures the CURRENT ETag as the
        If-Match baseline — attach immediately after load, before any
        concurrent writer can move the object."""
        self._cond_store = store
        self._loaded_etag = store.etag(self.manifest_path) if self._persisted else None

    def _serialize(self) -> bytes:
        """The manifest's exact on-disk byte representation (SPEC.md §3):
        plain JSON, or the 8-byte-length-prefixed zstd frame."""
        if self.storage_format == "zstd":
            import pyarrow as pa

            payload = json.dumps(
                self.to_dict(), default=str, separators=(",", ":")
            ).encode("utf-8")
            return len(payload).to_bytes(8, "little") + pa.Codec("zstd").compress(
                payload, asbytes=True
            )
        return json.dumps(self.to_dict(), default=str).encode("utf-8")


def _atomic_write(path: str, fill) -> None:
    """Make ``path`` appear complete or not at all: ``fill`` — bytes, or
    a callable that writes a file at the path it is given — goes to a temp
    file in the same directory, which is then renamed over ``path``."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    os.close(fd)
    try:
        if callable(fill):
            fill(tmp)
        else:
            with open(tmp, "wb") as fh:
                fh.write(fill)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def _read_manifest(path: str) -> tuple[dict[str, Any], str, str] | None:
    """The manifest document at ``path`` (plain JSON) or at its zstd twin
    ``path + ".zst"`` — the plain one wins when both exist: (dict, codec,
    ETag of the stored bytes), or None when neither exists."""
    for codec, p in (("json", path), ("zstd", path + ".zst")):
        try:
            with open(p, "rb") as fh:
                blob = fh.read()
        except FileNotFoundError:
            continue
        raw = blob
        if codec == "zstd":
            import pyarrow as pa

            # 8-byte LE plaintext-size header (pyarrow's one-shot
            # decompress needs the exact output size)
            size = int.from_bytes(blob[:8], "little")
            raw = pa.Codec("zstd").decompress(blob[8:], asbytes=True, decompressed_size=size)
        return json.loads(raw), codec, _etag(blob)
    return None


def _sidecars(root: str, dataset_uuid: str) -> list[tuple[int, str]]:
    """(version, path) of every partition sidecar of the dataset, named
    ``_partitions_v<N:08d>_<token>.parquet`` or (older) without a token."""
    sdir = os.path.join(root, dataset_uuid, SIDECAR_DIR)
    if not os.path.isdir(sdir):
        return []
    return [
        (int(name[13:21]), os.path.join(sdir, name))
        for name in os.listdir(sdir)
        if name.startswith("_partitions_v") and name.endswith(".parquet")
    ]


def _write_partitions_sidecar(
    path: str, partitions: dict[str, dict[str, Any]]
) -> "MutableMapping | None":
    """Columnar partition list: (label, file, rows, stats_json, extra_json).
    Common fields get real columns (fast columnar decode); rarely-present
    keys ride as JSON strings. Atomic tmp + rename, zstd parquet.

    Returns the partition map the committing manifest should ADOPT —
    the state :func:`_read_partitions_sidecar` would produce for the
    file just written — or None when the mixed-shape general path ran
    (a lazy map cannot represent rows/stats/extra). Adopting the lazy
    map after a plain-shape encode makes the NEXT metadata-only commit
    take the copy-the-source-file path instead of re-encoding 1M
    entries (~0.5 s → ~0.05 s), exactly as if the manifest had been
    reloaded from disk."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # rewrite of a loaded-but-untouched lazy map: write straight from the
    # held arrow columns — no dict materialization on the commit path
    lazy = isinstance(partitions, _SidecarPartitions)
    lazy_cols = partitions.arrow_columns() if lazy else None
    if lazy_cols is not None and partitions.source_path:
        # unmaterialized map == exact bytes of its source sidecar: copy
        # instead of re-encoding (metadata-only commit of a 1M-partition
        # dataset drops from ~0.6 s parquet encode to a file copy)
        import shutil

        src = partitions.source_path
        try:
            _atomic_write(path, lambda tmp: shutil.copyfile(src, tmp))
            partitions.source_path = path  # commit cleanup may unlink src
            return partitions
        except FileNotFoundError:
            pass  # a later commit already cleaned src up: re-encode
    if lazy_cols is not None:
        labels_pa, files_pa = lazy_cols
        plain = True
    else:
        entries = list(partitions.values())
        # ONE fused pass extracts files and detects the dominant all-plain
        # shape (every entry exactly {"file": ...}); a second single loop
        # builds the remaining columns only when some entry is
        # mixed-shape. The earlier form paid a dedicated all() pass plus
        # up to four per-column comprehensions over 1M entries — at this
        # size those Python passes cost more than the parquet encode
        # itself (profiled: 0.56 s of passes vs 0.21 s of zstd at 1M).
        files = []
        plain = True
        for e in entries:
            files.append(e.get("file"))
            if plain and (len(e) != 1 or "file" not in e):
                plain = False
        labels_pa = pa.array(list(partitions.keys()), type=pa.string())
        files_pa = pa.array(files, type=pa.string())
    n = len(labels_pa)
    if plain:
        # byte-identical output: the columns would have been all-null
        rows_arr: Any = pa.nulls(n, type=pa.int64())
        stats_arr: Any = pa.nulls(n, type=pa.string())
        extra_arr: Any = pa.nulls(n, type=pa.string())
    else:
        known = {"file", "rows", "stats"}
        rows_list: list = []
        stats_list: list = []
        extra_list: list = []
        for e in entries:
            rows_list.append(e.get("rows"))
            stats_list.append(
                json.dumps(e["stats"], default=str) if "stats" in e else None
            )
            extra_list.append(
                None
                if e.keys() <= known
                else json.dumps(
                    {k: v for k, v in e.items() if k not in known}, default=str
                )
            )
        rows_arr = pa.array(rows_list, type=pa.int64())
        stats_arr = pa.array(stats_list, type=pa.string())
        extra_arr = pa.array(extra_list, type=pa.string())
    table = pa.table(
        {
            "label": labels_pa,
            "file": files_pa,
            "rows": rows_arr,
            "stats": stats_arr,
            "extra": extra_arr,
        }
    )
    _atomic_write(path, lambda tmp: pq.write_table(table, tmp, compression="zstd"))
    if lazy_cols is not None:
        partitions.source_path = path
        return partitions
    return _SidecarPartitions(labels_pa, files_pa, source_path=path) if plain else None


def _read_partitions_sidecar(path: str) -> MutableMapping:
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    n = t.num_rows
    # fast path: the optional columns are usually all-null — check the
    # arrow null counts instead of testing 1M python values, and hand the
    # label/file columns over LAZILY (planning only needs labels; the 1M
    # inner dicts are built on first entry access)
    if (
        t.column("rows").null_count == n
        and t.column("stats").null_count == n
        and t.column("extra").null_count == n
    ):
        return _SidecarPartitions(t.column("label"), t.column("file"), source_path=path)
    labels = t.column("label").to_pylist()
    files = t.column("file").to_pylist()
    rows = t.column("rows").to_pylist()
    stats = t.column("stats").to_pylist()
    extra = t.column("extra").to_pylist()
    out: dict[str, dict[str, Any]] = {}
    for i, label in enumerate(labels):
        entry: dict[str, Any] = {"file": files[i]}
        if rows[i] is not None:
            entry["rows"] = rows[i]
        if stats[i] is not None:
            entry["stats"] = json.loads(stats[i])
        if extra[i] is not None:
            entry.update(json.loads(extra[i]))
        out[label] = entry
    return out


def new_uuid() -> str:
    return _uuid.uuid4().hex


def list_datasets(root: str, prefix: str = "") -> list[str]:
    """Discover dataset uuids under a root by manifest suffix
    (reference ``api/discover.py:87-141``)."""
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if not name.startswith(prefix):
            continue
        if name.endswith(METADATA_SUFFIX_ZST):
            out.append(name[: -len(METADATA_SUFFIX_ZST)])
        elif name.endswith(METADATA_SUFFIX):
            out.append(name[: -len(METADATA_SUFFIX)])
    return sorted(out)
