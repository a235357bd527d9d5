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

from kartothek_spark.core.urlencode import parse_partition_values, unquote

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


_MISSING = object()
_SCANS_BEFORE_SET = 128


def _plain(entry) -> bool:
    """True for the dominant entry shape, exactly ``{"file": ...}``."""
    return isinstance(entry, dict) and len(entry) == 1 and "file" in entry


class _SidecarPartitions(MutableMapping):
    """Partition map backed lazily by the parquet sidecar's arrow columns
    (fast-path sidecars only: every entry is a pure ``{"file": ...}``),
    plus an add/remove overlay.

    Planning touches LABELS, not entries — ``query()`` evaluates the arrow
    label column, ``dispatch_labels`` sorts/intersects the result — so
    load defers the expensive part: at 1M partitions, building the inner
    dicts costs ~2 s of driver time while the parquet decode itself is
    ~0.2 s (see BENCH_NOTES ``manifest_plan_1m``). The base columns never
    change. Plain appends (a new label with a ``{"file": ...}`` entry),
    deletes and ``pop`` go to an added dict and a removed set; iteration,
    ``len``, membership, ``get_file``, ``==`` and the sidecar rewrite all
    see the overlay without building the entry dicts, in a dict's order
    (base minus removed, then added). Entry reads, overwrites of a base
    label and non-plain added entries build the full dict once and
    delegate from then on, so mutation semantics — including callers
    that mutate a returned entry in place — are exactly a dict's."""

    __slots__ = (
        "_labels_arr", "_files_arr", "_labels", "_set", "_files", "_dict",
        "_added", "_removed", "_keep", "_view", "_decoded", "_scans", "source_path",
    )

    def __init__(self, labels_arr, files_arr, source_path: str | None = None):
        self._labels_arr = labels_arr  # pyarrow (Chunked)Array[string]
        self._files_arr = files_arr
        self._labels: list | None = None  # base labels, built on first use
        self._set: set | None = None  # base label set
        self._scans = 0  # membership lookups answered by a column scan
        self._files: dict | None = None  # base label -> file
        self._dict: dict | None = None  # built on first entry access
        self._added: dict = {}  # new label -> entry, after the base
        self._removed: set = set()  # deleted base labels
        self._keep = None  # bool mask of base labels not removed
        self._view: list | None = None  # current labels, while overlaid
        # typed key columns of the BASE labels, per decode signature (see
        # DatasetManifest.query); the base never changes, so never stale
        self._decoded: dict = {}
        # sidecar file these columns were decoded from: while the map is
        # neither materialized nor overlaid it is PROVABLY byte-identical
        # to that file, so a metadata-only commit can copy the file
        # instead of re-encoding 1M rows
        self.source_path = source_path

    # -- base views ----------------------------------------------------------
    def _base_labels(self) -> list:
        if self._labels is None:
            self._labels = self._labels_arr.to_pylist()
        return self._labels

    def _base_has(self, label) -> bool:
        """``label`` is a base label the overlay has not removed. The first
        lookups scan the arrow column (~1 ms at 200k labels); the set,
        which costs ~0.2 s to build there, only once lookups add up."""
        if label in self._removed:
            return False
        if self._set is None:
            self._scans += 1
            if self._scans <= _SCANS_BEFORE_SET:
                import pyarrow.compute as pc

                return pc.index(self._labels_arr, label).as_py() >= 0
            self._set = set(self._base_labels())
        return label in self._set

    def _keep_mask(self):
        """numpy mask of the base labels still present (None: all are)."""
        if not self._removed:
            return None
        if self._keep is None:
            import pyarrow as pa
            import pyarrow.compute as pc

            gone = pc.is_in(self._labels_arr, value_set=pa.array(list(self._removed), pa.string()))
            self._keep = ~gone.to_numpy(zero_copy_only=False)
        return self._keep

    def _changed(self) -> None:
        self._keep = None
        self._view = None
        self.source_path = None  # no longer the source file's exact content

    # -- lazy accessors ------------------------------------------------------
    def label_list(self) -> list:
        if self._dict is not None:
            return list(self._dict)
        if not (self._added or self._removed):
            return self._base_labels()
        if self._view is None:
            import pyarrow as pa

            keep = self._keep_mask()
            base = (self._base_labels() if keep is None
                    else self._labels_arr.filter(pa.array(keep)).to_pylist())
            self._view = base + list(self._added)
        return self._view

    def label_parts(self) -> list:
        """``(labels, live mask | None, decode cache | None)`` per label
        column, in iteration order — what ``DatasetManifest.query``
        evaluates."""
        import pyarrow as pa

        if self._dict is not None:
            return [(pa.array(list(self._dict), pa.string()), None, None)]
        parts = [(self._labels_arr, self._keep_mask(), self._decoded)]
        if self._added:
            parts.append((pa.array(list(self._added), pa.string()), None, None))
        return parts

    def arrow_columns(self):
        """(labels, files) arrow arrays of the current content while every
        entry is plain and the map is not materialized, else None —
        ``_write_partitions_sidecar``'s rewrite fast path."""
        if self._dict is not None or not all(map(_plain, self._added.values())):
            return None
        if not (self._added or self._removed):
            return self._labels_arr, self._files_arr
        import pyarrow as pa

        keep = self._keep_mask()
        cols = []
        for base, new in ((self._labels_arr, list(self._added)),
                          (self._files_arr, [e["file"] for e in self._added.values()])):
            if keep is not None:
                base = base.filter(pa.array(keep))
            chunks = getattr(base, "chunks", [base])
            cols.append(pa.concat_arrays([*chunks, pa.array(new, pa.string())]))
        return tuple(cols)

    def get_file(self, label: str) -> str | None:
        """One label's file WITHOUT materializing the inner dicts — the
        read-only lookup behind :meth:`DatasetManifest.file_path`, so the
        first data read of a pruned partition costs a flat str->str dict
        (one arrow ``to_pylist`` + zip) instead of ~2 s of per-entry dict
        building at 1M partitions. Falls through to the real dict once
        any mutation path has materialized it."""
        if self._dict is not None:
            entry = self._dict.get(label)
        else:
            entry = self._added.get(label)
            if entry is None:
                return self._base_files().get(label) if label not in self._removed else None
        return None if entry is None else entry.get("file")

    def _base_files(self) -> dict:
        if self._files is None:
            self._files = dict(zip(self._base_labels(), self._files_arr.to_pylist()))
        return self._files

    def _materialize(self) -> dict:
        if self._dict is None:
            files = self._files_arr.to_pylist()
            removed = self._removed
            self._dict = {
                lbl: {"file": f}
                for lbl, f in zip(self._base_labels(), files)
                if not removed or lbl not in removed
            }
            self._dict.update(self._added)
            self._labels = self._set = self._files = self._view = self._keep = None
            self._added, self._removed = {}, set()
            self._decoded = {}
        return self._dict

    # -- read-only views that stay lazy --------------------------------------
    def __len__(self) -> int:
        if self._dict is not None:
            return len(self._dict)
        return len(self._labels_arr) - len(self._removed) + len(self._added)

    def __iter__(self):
        return iter(self.label_list())

    def __contains__(self, key) -> bool:
        if self._dict is not None:
            return key in self._dict
        return key in self._added or self._base_has(key)

    # -- mutation: overlay for plain appends and deletes ---------------------
    def __getitem__(self, key):
        return self._materialize()[key]

    def __setitem__(self, key, value) -> None:
        if self._dict is None and _plain(value) and not self._base_has(key):
            if key not in self._added:
                self._changed()
            self._added[key] = value
            return
        self._materialize()[key] = value

    def __delitem__(self, key) -> None:
        if self._dict is not None:
            del self._dict[key]
        elif key in self._added:
            self._changed()
            del self._added[key]
        elif self._base_has(key):
            self._changed()
            self._removed.add(key)
        else:
            raise KeyError(key)

    def pop(self, key, default=_MISSING):
        if self._dict is not None:
            return self._dict.pop(key) if default is _MISSING else self._dict.pop(key, default)
        if key in self._added:
            value = self._added[key]
        elif self._base_has(key):
            value = {"file": self._base_files()[key]}
        elif default is _MISSING:
            raise KeyError(key)
        else:
            return default
        del self[key]
        return value

    def _flat(self) -> dict | None:
        """label -> file of the current content, while it is all plain."""
        cols = self.arrow_columns()
        return None if cols is None else dict(zip(cols[0].to_pylist(), cols[1].to_pylist()))

    def __eq__(self, other):
        if not isinstance(other, Mapping):
            return NotImplemented
        lazy = isinstance(other, _SidecarPartitions)
        mine = self._flat()
        if mine is None:
            return self._materialize() == (other._materialize() if lazy else dict(other))
        if lazy:
            theirs = other._flat()
            if theirs is not None:
                return mine == theirs
            other = other._materialize()
        return len(other) == len(mine) and all(
            _plain(entry) and mine.get(lbl, _MISSING) == entry["file"]
            for lbl, entry in other.items()
        )

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
    to the strict path, as are decimals: ``Decimal("1.5")`` must find the
    ``d=1.50`` directory, which only a typed comparison does. The
    literal's python type must agree with the column's type class — a
    mismatched literal must keep flowing into the strict path so the
    type-stability guard raises, not silently match."""
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
    import decimal

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
    if isinstance(dt, T.DecimalType):
        return decimal.Decimal(raw)
    return raw


def _decode_value(raw: str, dt: T.DataType, binary_codec: str) -> Any:
    """One partition value from its (percent-quoted) label rendering: the
    single decoder behind :meth:`DatasetManifest.partition_values` and the
    planner's typed key columns."""
    return _typed_value(unquote(raw) if "%" in raw else raw, dt, binary_codec)


class _KeyColumns:
    """Typed partition-key columns of one label array, decoded in arrow.

    Every distinct directory segment is decoded once (``_decode_value``);
    per label and key, ``codes`` points at the segment holding the label's
    value — the last ``k=`` directory segment, or, when a label lacks a
    key there, the last ``k=`` segment of the whole label (the fallback of
    :meth:`DatasetManifest.partition_values`). ``bad`` marks labels that
    cannot decode: an unparsable value in any directory segment of a key,
    or a key missing from the whole label. Index -1 of the segment arrays
    is a sentinel (no key, no value)."""

    __slots__ = ("codes", "seg_val", "by_key", "bad")

    def __init__(self, labels, keys: list, types: dict, binary_codec: str):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        if isinstance(labels, pa.ChunkedArray):
            labels = labels.combine_chunks()
        n = len(labels)
        kidx = {k: i for i, k in enumerate(keys)}
        seg_key: list = []
        seg_val: list = []
        seg_bad: list = []

        def encode(segments):
            """Table codes of ``segments``; new distinct ones are decoded."""
            enc = segments.dictionary_encode()
            first = len(seg_key)
            for s in enc.dictionary.to_pylist():
                k, eq, raw = s.partition("=")
                i = kidx.get(k, -1) if eq else -1
                val, bad = None, False
                if i >= 0:
                    try:
                        val = _decode_value(raw, types[k], binary_codec)
                    except Exception:
                        bad = True
                seg_key.append(i)
                seg_val.append(val)
                seg_bad.append(bad)
            return enc.indices.to_numpy(zero_copy_only=False) + np.int32(first)

        lists = pc.split_pattern(labels, "/")
        segments = lists.flatten()
        offsets = lists.offsets.to_numpy()
        last = offsets[1:] - 1  # each label's file segment
        is_dir = np.ones(len(segments), bool)
        is_dir[last] = False
        parent = np.repeat(np.arange(n), np.diff(offsets))[is_dir]
        code = encode(segments.filter(pa.array(is_dir)))
        key_of = np.array(seg_key, np.int64)[code]
        codes = np.full((len(keys), n), -1, np.int32)
        for i in range(len(keys)):
            sel = key_of == i
            p, c = parent[sel], code[sel]
            tail = np.ones(len(p), bool)  # last occurrence per label wins
            tail[:-1] = p[1:] != p[:-1]
            codes[i, p[tail]] = c[tail]
        bad = np.zeros(n, bool)
        bad[parent[np.array(seg_bad, bool)[code]]] = True
        rows = np.flatnonzero((codes < 0).any(axis=0))
        if len(rows):
            # the file segment comes last, so where it names a key it wins
            fcode = encode(segments.take(pa.array(last[rows])))
            fkey = np.array(seg_key, np.int64)[fcode]
            for i in range(len(keys)):
                sel = fkey == i
                codes[i, rows[sel]] = fcode[sel]
            sub = codes[:, rows]
            bad[rows] |= (sub < 0).any(axis=0) | np.array(seg_bad + [False])[sub].any(axis=0)
        seg_key.append(-1)
        seg_val.append(None)
        self.codes = codes
        self.seg_val = seg_val
        self.by_key = [np.flatnonzero(np.array(seg_key) == i) for i in range(len(keys))]
        self.bad = bad

    def literal(self, i: int, op: str, value: Any):
        """(holds, raises) per label for the literal ``(key i, op, value)``,
        evaluated once per distinct value with the planner's own
        ``_eval_literal_py`` — so python comparison semantics (and its
        TypeErrors) are exactly the per-label evaluation's."""
        import numpy as np

        from kartothek_spark.core.predicates import _eval_literal_py

        holds = np.zeros(len(self.seg_val), bool)
        raises = np.zeros(len(self.seg_val), bool)
        for j in self.by_key[i]:  # an undecodable one (None) serves only bad labels
            try:
                holds[j] = bool(_eval_literal_py(op, self.seg_val[j], value))
            except Exception:
                raises[j] = True
        return holds[self.codes[i]], raises[self.codes[i]]


def _segment_mask(labels, segs_dnf):
    """Arrow boolean mask of the labels matching a DNF of ``"/k=v/"``
    segments (:func:`_equality_segments`). ``"/k=v/"`` can only match a
    directory segment (the trailing file segment has no terminating
    slash), so one leading slash is enough: seg in "/"+lbl ⇔
    lbl.startswith(seg[1:]) or seg in lbl."""
    import pyarrow.compute as pc

    mask = None
    for conj in segs_dnf:
        m = pc.is_valid(labels)  # an empty conjunction matches every label
        for seg in conj:
            m = pc.and_(m, pc.or_(pc.starts_with(labels, seg[1:]), pc.match_substring(labels, seg)))
        mask = m if mask is None else pc.or_(mask, m)
    return mask


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
    # (schema object, column name -> Spark type): rebuilt only when the
    # schema is replaced (never serialized)
    _types: Any = field(default=None, repr=False, compare=False)

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
    def _key_types(self) -> dict[str, T.DataType]:
        """Column name -> Spark type of the current schema, built once per
        schema object rather than once per decoded label."""
        if self._types is None or self._types[0] is not self.schema:
            self._types = (self.schema, {f.name: f.dataType for f in self.schema.fields})
        return self._types[1]

    def partition_values(self, label: str) -> dict[str, Any]:
        types, codec = self._key_types(), self.binary_codec
        return {
            k: _decode_value(v, types[k], codec)
            for k, v in parse_partition_values(label, self.partition_keys).items()
        }

    def query(self, predicates=None, **kwargs: Any) -> list[str]:
        """Partition labels surviving partition-key predicate evaluation
        (reference ``core/dataset.py:317-347``), in the partition map's
        order. ``kwargs`` are equality shorthands (``delete_scope`` style).

        Driver-side planning must stay sub-second at 100 TB manifest
        scale (200k+ files — see BENCH_NOTES.md), so there is no
        per-label Python: ONE evaluator turns each DNF literal into a
        boolean mask over the arrow label column (the lazy sidecar map's
        column plus its overlay, or the inline dict's labels) and combines
        the masks with and/or.

        - A DNF made only of canonical ``==`` literals (ints, dates and
          plain strings that the writer's path escaping leaves as they are
          — :func:`_equality_segments`) string-matches whole ``/k=v/``
          segments and parses nothing. EXTERNAL (attached) datasets never
          take it: a foreign hive writer may use non-canonical renderings
          (zero-padded ints, unpadded dates) that parse to the same typed
          value but would not string-match.
        - Any other DNF is evaluated against typed key columns
          (:class:`_KeyColumns`): each distinct directory segment is
          decoded once with :func:`_decode_value`, and each literal is
          evaluated once per distinct value. Every key is decoded, and
          literals short-circuit per label as in a per-label evaluation,
          so a malformed label, an unparsable value or an incomparable
          literal raises the error the first such label in map order
          raises. A loaded sidecar map caches its base columns' decode.
        """
        import pyarrow as pa
        import pyarrow.compute as pc

        if kwargs:
            extra = [[(k, "==", v) for k, v in kwargs.items()]]
            predicates = extra if predicates is None else [
                list(conj) + eq for conj in predicates for eq in extra
            ]
        if not self.partition_keys or predicates is None:
            return list(self.partitions)

        types = self._key_types()
        casters = {k: types[k] for k in self.partition_keys if k in types}
        segs_dnf = None if self.external_root else _equality_segments(predicates, casters)
        parts = getattr(self.partitions, "label_parts", None)
        parts = parts() if parts is not None else [
            (pa.array(list(self.partitions), pa.string()), None, None)
        ]
        out: list[str] = []
        for labels, live, cache in parts:
            if segs_dnf is None:
                mask = pa.array(self._typed_mask(labels, live, cache, predicates))
            else:
                mask = _segment_mask(labels, segs_dnf)
                if live is not None:
                    mask = pc.and_(mask, pa.array(live))
            out += labels.filter(mask).to_pylist()
        return out

    def _typed_mask(self, labels, live, cache, predicates):
        """numpy mask of the ``live`` labels satisfying ``predicates``,
        evaluated on typed key columns; raises the error of the first
        label (in order) that cannot decode or evaluate."""
        import numpy as np

        keys, codec = self.partition_keys, self.binary_codec
        types = self._key_types()
        sig = (tuple(keys), tuple(types.get(k) for k in keys), codec)
        cols = cache.get(sig) if cache is not None else None
        if cols is None:
            cols = _KeyColumns(labels, keys, types, codec)
            if cache is not None:
                cache[sig] = cols
        kidx = {k: i for i, k in enumerate(keys)}
        if live is None:
            live = np.ones(len(cols.bad), bool)
        bad = cols.bad & live
        todo = live & ~bad
        out = np.zeros(len(todo), bool)
        failed = bad.copy()
        raisers = []
        for conj in predicates:
            reach = todo & ~out & ~failed
            for col, op, value in conj:
                i = kidx.get(col)
                if i is None:
                    continue  # not a partition key: satisfiable here
                holds, raises = cols.literal(i, op, value)
                hit = reach & raises
                if hit.any():
                    failed |= hit
                    raisers.append((hit, i, op, value))
                reach &= holds
            out |= reach
        if failed.any():
            first = int(failed.argmax())
            if bad[first]:
                self._raise_label_error(labels[first].as_py())
            from kartothek_spark.core.predicates import _eval_literal_py

            hit, i, op, value = next(r for r in raisers if r[0][first])
            _eval_literal_py(op, cols.seg_val[cols.codes[i][first]], value)
        return out

    def _raise_label_error(self, label: str) -> None:
        """Decode one label the way the planner meets its segments — the
        directory values in order, then the whole-label parse of
        :meth:`partition_values` when a key is missing there — which
        raises that label's error."""
        keys, types, codec = set(self.partition_keys), self._key_types(), self.binary_codec
        found = set()
        for seg in label.rpartition("/")[0].split("/"):
            k, eq, raw = seg.partition("=")
            if eq and k in keys:
                _decode_value(raw, types[k], codec)
                found.add(k)
        if found != keys:
            self.partition_values(label)
        raise AssertionError(f"partition label {label!r} decodes on its own")

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

    # rewrite of a loaded lazy map (its overlay of plain appends and
    # deletes included): write straight from the arrow columns — no dict
    # materialization on the commit path
    lazy = isinstance(partitions, _SidecarPartitions)
    lazy_cols = partitions.arrow_columns() if lazy else None
    if lazy_cols is not None and partitions.source_path:
        # unmaterialized, unoverlaid map == exact bytes of its source: copy
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
