"""Interop with datasets written by the reference engine (kartothek).

The migration story the engine promises — "a user of the reference can
switch and keep running every query" — needs more than API parity: the
user's *existing datasets* were written by the reference, in its metadata
v4 on-disk layout. :func:`import_kartothek_dataset` attaches such a
dataset **in place** (zero payload copy, explicit-partition faithful) as a
managed external dataset, and :func:`export_kartothek_metadata` writes the
reference's metadata objects for one of *our* datasets so legacy readers
keep working during a staged migration.

Format parity targets (all in /root/reference):

* metadata v4 JSON dict — ``kartothek/core/dataset.py:208-236`` (keys
  ``dataset_metadata_version``, ``dataset_uuid``, ``metadata``,
  ``partitions``, ``indices``, ``partition_keys``);
* naming — ``kartothek/core/naming.py:7-62``
  (``<uuid>.by-dataset-metadata.json``, payload prefix
  ``<uuid>/<table>/<label>``, ``_common_metadata``,
  ``*.by-dataset-index.parquet``);
* partition dicts ``{label: {"files": {table: key}}}`` —
  ``kartothek/core/partition.py:46-48``;
* external secondary-index parquet ``[<column>, partition: list<string>]``
  — ``kartothek/core/index.py:_index_dct_to_table``;
* schema sidecar ``<uuid>/<table>/_common_metadata`` (pyarrow parquet
  metadata, partition keys first, payload files store data columns only)
  — ``kartothek/core/common_metadata.py:362-391``, ``:151-215``.

Spark-first notes: the import is metadata-only on the driver (the
reference manifest is by construction driver-sized — kartothek loads it
into one process too); indices convert on the driver, as kartothek loads
them too, and the only distributed work is the optional stats collection,
one Spark job. Payload files are never read, moved, or rewritten — at
100 TB that is the difference between a metadata operation and a week of
IO.
"""

from __future__ import annotations

import json
import os
from typing import Any, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from kartothek_spark.core.manifest import TABLE, DatasetManifest, _typed_value
from kartothek_spark.core import index as ktk_index

REF_METADATA_SUFFIX = ".by-dataset-metadata.json"
REF_METADATA_SUFFIX_MSGPACK = ".by-dataset-metadata.msgpack.zstd"
REF_INDEX_SUFFIX = ".by-dataset-index.parquet"
REF_SCHEMA_FILE = "_common_metadata"


def load_reference_metadata(source_root: str, source_uuid: str) -> dict[str, Any]:
    """Load and validate a reference metadata-v4 dict from ``source_root``.

    JSON is the canonical format; ``.msgpack.zstd`` (reference
    ``core/_zmsgpack.py``) is decoded when the optional ``msgpack``
    package is importable, otherwise a clear error tells the user to
    re-serialize (the reference CLI can convert) — msgpack is not baked
    into this environment.
    """
    json_path = os.path.join(source_root, source_uuid + REF_METADATA_SUFFIX)
    msgpack_path = os.path.join(source_root, source_uuid + REF_METADATA_SUFFIX_MSGPACK)
    if os.path.exists(json_path):
        with open(json_path, "rb") as f:
            meta = json.load(f)
    elif os.path.exists(msgpack_path):
        try:
            import msgpack  # type: ignore
            import zstandard  # type: ignore
        except ImportError as exc:  # pragma: no cover - environment-dependent
            raise NotImplementedError(
                f"{msgpack_path} is msgpack/zstd-encoded and the 'msgpack' "
                "package is not installed; re-serialize the dataset metadata "
                "as JSON (reference metadata_storage_format='json') and retry"
            ) from exc
        with open(msgpack_path, "rb") as f:  # pragma: no cover
            meta = msgpack.unpackb(
                zstandard.ZstdDecompressor().decompress(f.read()), raw=False
            )
    else:
        raise FileNotFoundError(
            f"no reference metadata for uuid {source_uuid!r} under "
            f"{source_root!r} (looked for {os.path.basename(json_path)} and "
            f"{os.path.basename(msgpack_path)})"
        )
    version = meta.get("dataset_metadata_version")
    if version != 4:
        raise ValueError(
            f"unsupported reference metadata version {version!r} (only v4 "
            "exists upstream, core/naming.py:7-9)"
        )
    if meta.get("dataset_uuid") != source_uuid:
        raise ValueError(
            f"metadata dataset_uuid {meta.get('dataset_uuid')!r} does not "
            f"match requested uuid {source_uuid!r}"
        )
    return meta


def reference_tables(meta: dict[str, Any]) -> list[str]:
    """Table names present in a reference metadata dict (from the
    per-partition ``files`` maps — ``core/dataset.py:144-147``)."""
    tables: list[str] = []
    for part in (meta.get("partitions") or {}).values():
        for t in (part.get("files") or {}):
            if t not in tables:
                tables.append(t)
    return tables


def _reference_schema(
    spark: SparkSession, table_dir: str, files: Sequence[str]
) -> T.StructType:
    """Spark schema for a reference table: ``_common_metadata`` when
    present (authoritative — includes partition-key columns, which the
    payload files do not store), else inferred from the listed files."""
    sidecar = os.path.join(table_dir, REF_SCHEMA_FILE)
    if os.path.exists(sidecar):
        from pyspark.sql.pandas.types import from_arrow_schema

        arrow_schema = pq.read_schema(sidecar)
        # drop pandas index placeholder fields (reference keeps them in
        # the sidecar; they are not data columns)
        keep = [f for f in arrow_schema if not f.name.startswith("__index_level_")]
        return from_arrow_schema(pa.schema(keep))
    if not files:
        raise ValueError(
            f"cannot determine schema: no {REF_SCHEMA_FILE} in {table_dir!r} "
            "and the dataset has no partitions"
        )
    reader = spark.read.option("basePath", "file:" + table_dir)
    return reader.parquet(*["file:" + f for f in files]).schema


def _import_embedded_index(
    manifest: DatasetManifest, column: str, index_dct: dict[str, Any]
) -> str:
    """Convert a JSON-embedded reference index dict (value → [labels]) to
    the engine's index parquet. JSON stringifies keys, so values are
    re-typed against the dataset schema before writing."""
    field = next(f for f in manifest.schema.fields if f.name == column)
    values, labels = [], []
    for v, lbls in index_dct.items():
        typed = _typed_value(str(v), field.dataType)
        values += [typed] * len(lbls)
        labels += list(lbls)
    pairs = pa.table(
        [pa.array(values, to_arrow_type(field.dataType)), pa.array(labels, pa.string())],
        names=["value", "label"],
    )
    return ktk_index.write_index(manifest, column, pairs)


def _import_external_index(
    manifest: DatasetManifest, column: str, source_root: str, storage_key: str
) -> str:
    """Convert a reference external index parquet (``[<column>,
    partition: list<string>]``) to the engine layout on the driver, as the
    reference loads its indices (``IndexBase.load``)."""
    field = next(f for f in manifest.schema.fields if f.name == column)
    src = pq.read_table(
        os.path.join(source_root, storage_key),
        schema=pa.schema(
            [(column, to_arrow_type(field.dataType)), ("partition", pa.list_(pa.string()))]
        ),
    )
    return ktk_index.write_index(manifest, column, ktk_index.flatten_index(src))


def import_kartothek_dataset(
    spark: SparkSession,
    root: str,
    dataset_uuid: str,
    source_root: str,
    source_uuid: str | None = None,
    table: str | None = None,
    convert_indices: bool = True,
    stats_columns: Sequence[str] = (),
) -> DatasetManifest:
    """Attach a reference-written dataset in place as a managed external
    dataset — the zero-copy migration path.

    * **Explicit partitions are honored**: only files listed in the
      reference metadata become partitions (a leftover file from an
      aborted reference write stays invisible, exactly as it does under
      the reference's own readers — ``core/dataset.py:87-90``).
    * Payload files are neither read nor moved; the manifest records them
      relative to the reference table directory (``external_root``), so
      GC never reclaims them and ``delete_dataset`` is a metadata-only
      detach.
    * Secondary indices convert to the engine layout (embedded dicts
      driver-side, external parquet via one Spark job each); partition-key
      "primary" indices are skipped — the engine reconstructs them from
      the hive labels (reference X4 parity).
    * ``stats_columns`` optionally runs the manifest min/max stats
      collection job over the imported files, giving the imported dataset
      file-skipping the reference never had.

    Multi-table reference datasets (deprecated upstream) import one table
    per call: pass ``table=`` and a distinct ``dataset_uuid`` for each.
    """
    if DatasetManifest.exists(root, dataset_uuid):
        raise ValueError(f"dataset {dataset_uuid!r} already exists")
    source_root = os.path.abspath(source_root)
    source_uuid = source_uuid or dataset_uuid
    meta = load_reference_metadata(source_root, source_uuid)

    tables = reference_tables(meta)
    if table is None:
        if len(tables) > 1:
            raise ValueError(
                f"reference dataset {source_uuid!r} has multiple tables "
                f"{tables}; pass table= to import one of them"
            )
        table = tables[0] if tables else TABLE
    elif tables and table not in tables:
        raise ValueError(f"table {table!r} not in reference dataset (has {tables})")

    table_dir = os.path.join(source_root, source_uuid, table)
    prefix = f"{source_uuid}/{table}/"
    partitions: dict[str, dict[str, Any]] = {}
    files_abs: list[str] = []
    for label, part in (meta.get("partitions") or {}).items():
        files = part.get("files") or {}
        if table not in files:
            continue
        key = files[table]
        if not key.startswith(prefix):
            raise ValueError(
                f"partition {label!r} stores its file at {key!r}, outside "
                f"the v4 layout prefix {prefix!r} (core/naming.py:38-50)"
            )
        rel = key[len(prefix):]
        partitions[label] = {"file": rel}
        files_abs.append(os.path.join(table_dir, rel))

    schema = _reference_schema(spark, table_dir, files_abs)
    partition_keys = list(meta.get("partition_keys") or [])
    missing = [k for k in partition_keys if k not in {f.name for f in schema.fields}]
    if missing:
        raise ValueError(f"partition keys missing from schema: {missing}")

    # external root stored root-relative when it lives under our root
    # (relocatable), mirroring attach_dataset
    stored_root = table_dir
    abs_root = os.path.abspath(root)
    if table_dir == abs_root or table_dir.startswith(abs_root + os.sep):
        stored_root = os.path.relpath(table_dir, abs_root)

    user_meta = dict(meta.get("metadata") or {})
    user_meta["imported_from"] = os.path.join(source_root, source_uuid)
    user_meta["imported_table"] = table

    manifest = DatasetManifest(
        dataset_uuid=dataset_uuid,
        root=root,
        schema=schema,
        partition_keys=partition_keys,
        partitions=partitions,
        metadata=user_meta,
        external_root=stored_root,
        stats_columns=list(stats_columns),
    )

    if convert_indices:
        schema_cols = {f.name for f in schema.fields}
        for column, idx in (meta.get("indices") or {}).items():
            if column in partition_keys:
                continue  # primary index: reconstructed from labels (X4)
            if column not in schema_cols:
                # multi-table reference datasets carry dataset-level
                # indices; one indexed only in ANOTHER table is
                # meaningless for this import — skip, don't crash
                continue
            if isinstance(idx, str):
                manifest.indices[column] = _import_external_index(
                    manifest, column, source_root, idx
                )
            elif idx:
                manifest.indices[column] = _import_embedded_index(
                    manifest, column, idx
                )

    if stats_columns:
        from kartothek_spark.dataset.write import _attach_file_stats

        _attach_file_stats(spark, manifest, list(manifest.partitions))

    manifest.commit()
    return manifest


def export_kartothek_metadata(
    root: str,
    dataset_uuid: str,
    target_root: str,
    target_uuid: str | None = None,
) -> str:
    """Write a reference-readable *legacy view* of one of OUR datasets
    under ``target_root``: ``<uuid>.by-dataset-metadata.json`` +
    ``<uuid>/table/_common_metadata`` + reference-layout secondary index
    parquet files, with the payload table directory shared zero-copy via a
    symlink. Legacy reference readers pointed at ``target_root`` keep
    working against an engine-managed dataset during a staged migration.

    ``target_root`` must differ from the dataset's own root: the
    reference metadata file and the engine manifest share the
    ``<uuid>.by-dataset-metadata.json`` name (layout parity), so an
    in-place export would shadow the engine manifest. The symlink share
    is a POSIX-filesystem feature; on an object store, materialize with
    ``copy_dataset`` + export instead. The export is a *snapshot*:
    reference readers see the dataset as of this call; re-export after
    engine-side mutations. Datasets whose payload format is not parquet,
    or that use engine-only layout features the reference cannot read
    (hidden partition transforms, bucketed paths), are rejected rather
    than silently exported wrong.

    Returns the path of the written metadata JSON.
    """
    manifest = DatasetManifest.load(root, dataset_uuid)
    target_root = os.path.abspath(target_root)
    target_uuid = target_uuid or dataset_uuid
    if target_root == os.path.abspath(root):
        raise ValueError(
            "target_root must differ from the dataset root: the reference "
            "metadata filename would shadow the engine manifest"
        )
    if manifest.table_format != "parquet":
        raise ValueError(
            f"reference readers cannot read table_format="
            f"{manifest.table_format!r}; convert_dataset to parquet first"
        )
    if manifest.partition_transforms:
        raise ValueError(
            "hidden partition transforms have no reference representation "
            "(readers would surface the derived columns); materialize a "
            "plain-partitioned copy first"
        )
    if manifest.bucket_by:
        raise ValueError(
            "bucketed path layout has no reference representation; "
            "materialize an unbucketed copy first"
        )
    if manifest.external_root:
        raise ValueError(
            "external datasets do not live under <uuid>/table/; "
            "convert_dataset to a managed copy first"
        )

    # partition entries: our labels and v4 file keys are already
    # reference-shaped (<uuid>/table/<label>.parquet). Payload is shared
    # zero-copy: each listed file gets a symlink under the view's table
    # dir (per-file, not whole-dir, so the engine's data directory is
    # never written into — GC there must stay authoritative).
    own_prefix = f"{dataset_uuid}/{TABLE}{os.sep}"
    target_table = os.path.join(target_root, target_uuid, TABLE)
    os.makedirs(target_table, exist_ok=True)
    # BinaryType partition keys use the engine's x<hex> directory
    # rendering, which reference readers would mis-decode; the exported
    # VIEW re-renders those labels (and symlink paths) into the
    # reference's percent-encoded raw-bytes layout. relabel maps
    # engine label -> exported label for the index conversion below.
    binary_keys = [
        f.name
        for f in manifest.schema.fields
        if f.name in manifest.partition_keys
        and isinstance(f.dataType, T.BinaryType)
    ]
    relabel: dict[str, str] = {}
    parts: dict[str, Any] = {}
    for label, entry in manifest.partitions.items():
        stored = entry["file"]
        if not stored.startswith(own_prefix):
            raise ValueError(
                f"partition {label!r} payload {stored!r} is outside the "
                "managed <uuid>/table/ layout; cannot export"
            )
        rel = stored[len(own_prefix):]
        if binary_keys:
            from kartothek_spark.core.urlencode import quote

            values = manifest.partition_values(label)
            dirs = "/".join(
                f"{k}={quote(values[k])}" for k in manifest.partition_keys
            )
            out_label = f"{dirs}/{label.rsplit('/', 1)[-1]}"
            rel = f"{dirs}/{os.path.basename(rel)}"
        else:
            out_label = label
        relabel[label] = out_label
        link = os.path.join(target_table, rel)
        os.makedirs(os.path.dirname(link), exist_ok=True)
        if os.path.islink(link) or os.path.exists(link):
            os.remove(link)
        os.symlink(os.path.abspath(os.path.join(root, stored)), link)
        parts[out_label] = {"files": {TABLE: f"{target_uuid}/{TABLE}/{rel}"}}

    indices_out: dict[str, Any] = {}
    for column, rel in manifest.indices.items():
        # convert engine index parquet [value, partitions] back to the
        # reference layout [<column>, partition]. The reference reads the
        # index as ONE store object, so the output is necessarily a
        # single file — but it is written row-group by row-group
        # (bounded memory), never materialized whole on the driver.
        src_dir = os.path.join(root, rel)
        table_files = [
            os.path.join(src_dir, f)
            for f in sorted(os.listdir(src_dir))
            if f.endswith(".parquet")
        ]
        if not table_files:
            continue  # empty index (e.g. all-null column): nothing to export
        key = f"{target_uuid}/indices/{column}/exported{REF_INDEX_SUFFIX}"
        dest = os.path.join(target_root, key)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        writer = None
        try:
            for f in table_files:
                pf = pq.ParquetFile(f)
                for rg in range(pf.num_row_groups):
                    chunk = pf.read_row_group(rg)
                    parts_col = chunk.column("partitions")
                    if binary_keys:
                        # per-row-group label remap (bounded memory)
                        parts_col = pa.array(
                            [
                                [relabel.get(lbl, lbl) for lbl in lst]
                                for lst in parts_col.to_pylist()
                            ],
                            type=pa.list_(pa.string()),
                        )
                    out = pa.Table.from_arrays(
                        [chunk.column("value"), parts_col],
                        names=[column, "partition"],
                    )
                    if writer is None:
                        writer = pq.ParquetWriter(dest, out.schema)
                    writer.write_table(out)
        finally:
            if writer is not None:
                writer.close()
        if writer is not None:
            indices_out[column] = key

    dct: dict[str, Any] = {
        "dataset_metadata_version": 4,
        "dataset_uuid": target_uuid,
    }
    if indices_out:
        dct["indices"] = indices_out
    if manifest.metadata:
        dct["metadata"] = {
            k: v for k, v in manifest.metadata.items() if not k.startswith("__")
        }
    dct["partitions"] = parts
    if manifest.partition_keys:
        dct["partition_keys"] = list(manifest.partition_keys)

    # schema sidecar: arrow schema with pandas metadata (reference readers
    # route through pandas_metadata — common_metadata.py:151-215 requires
    # it), partition keys included. Round-trip an empty typed table
    # through pandas so the embedded pandas metadata agrees with the
    # arrow field types.
    typed = pa.schema(
        [
            pa.field(f.name, to_arrow_type(f.dataType), nullable=f.nullable)
            for f in manifest.schema.fields
        ]
    )
    arrow_schema = pa.Table.from_pandas(
        typed.empty_table().to_pandas(), schema=typed, preserve_index=False
    ).schema
    sidecar_dir = os.path.join(target_root, target_uuid, TABLE)
    os.makedirs(sidecar_dir, exist_ok=True)
    pq.write_metadata(arrow_schema, os.path.join(sidecar_dir, REF_SCHEMA_FILE))

    out_path = os.path.join(target_root, target_uuid + REF_METADATA_SUFFIX)
    with open(out_path, "w", encoding="utf-8") as f:
        json.dump(dct, f, sort_keys=False)
    return out_path
