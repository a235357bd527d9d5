"""Dataset statistics from Parquet footers.

Reference parity: ``collect_dataset_metadata`` (S25,
io/dask/dataframe.py:491-574 + ``get_parquet_metadata``
metapartition.py:1720-1771 in /root/reference) and the stats fold (S26/A7,
io_components/cube/stats.py:14-110).

Spark-first shape: the footer reads are a DISTRIBUTED job — the file list
(from the manifest, never a directory listing) is parallelized and each
task opens only footers via pyarrow, so 100 TB of payload costs one tiny
metadata read per file spread across the cluster. Results come back as a
DataFrame, so downstream aggregation is ordinary Spark.
"""

from __future__ import annotations

import random
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kartothek_spark.core.manifest import DatasetManifest

_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("partition_label", T.StringType()),
        T.StructField("row_group_id", T.LongType()),
        T.StructField("number_rows_total", T.LongType()),
        T.StructField("number_row_groups", T.LongType()),
        T.StructField("serialized_size", T.LongType()),
        T.StructField("number_rows_per_row_group", T.LongType()),
        T.StructField("number_columns", T.LongType()),
        T.StructField("compressed_size", T.LongType()),
        T.StructField("uncompressed_size", T.LongType()),
    ]
)


def collect_dataset_metadata(
    spark: SparkSession,
    root: str,
    dataset_uuid: str,
    frac: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """Row-group statistics for a (sampled) fraction of partitions.

    One output row per (file, row group), mirroring the reference's
    ``_METADATA_SCHEMA``. The sample is taken over partitions (files), as
    in the reference."""
    if not 0.0 < frac <= 1.0:
        raise ValueError("frac must be in (0, 1]")
    manifest = DatasetManifest.load(root, dataset_uuid)
    if manifest.table_format != "parquet":
        raise ValueError("parquet footer stats require parquet payloads")
    items = [(label, manifest.file_path(label)) for label in sorted(manifest.partitions)]
    if frac < 1.0:
        rng = random.Random(seed)
        items = [it for it in items if rng.random() < frac] or items[:1]
    if not items:
        return spark.createDataFrame([], _METADATA_SCHEMA)

    def footer_rows(it):
        import pyarrow.parquet as pq

        label, path = it
        meta = pq.ParquetFile(path).metadata
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            compressed = sum(g.column(i).total_compressed_size for i in range(g.num_columns))
            yield (
                label,
                rg,
                meta.num_rows,
                meta.num_row_groups,
                meta.serialized_size,
                g.num_rows,
                meta.num_columns,
                compressed,
                g.total_byte_size,
            )

    rdd = spark.sparkContext.parallelize(items, min(len(items), 64)).flatMap(footer_rows)
    return spark.createDataFrame(rdd, _METADATA_SCHEMA)


def collect_file_stats(
    spark: SparkSession,
    manifest: DatasetManifest,
    labels: list[str],
    columns: list[str],
) -> dict[str, dict[str, Any]]:
    """Per-file column min/max/null-count AND row count from parquet
    footers, as a DISTRIBUTED job over the (manifest-supplied) file list —
    the write-time half of manifest data skipping. Returns
    {label: ({col: {"min", "max", "nulls"}}, n_rows)}; a column is omitted
    for a file whose footer lacks usable min/max (e.g. all-null, or a
    writer that truncated string stats), which downstream pruning treats
    as "cannot skip".

    Values are rendered JSON-safe task-side (dates/timestamps → ISO
    strings); the planner re-types them against the manifest schema when
    comparing, via the same ``_typed_value`` the hive-label parser uses.

    Non-parquet formats (orc/csv/jsonl) have no task-side footer reader
    in this container, so their stats come from ONE distributed,
    column-pruned aggregation over the just-written files grouped by
    ``input_file_name()`` (the Delta-style write-time stats job): exact
    min/max/null-count/rows per file, same output contract. At write
    time the payload is hot and only the stats columns are read, so the
    job is a fraction of the write itself and fully distributed."""
    if not labels or not columns:
        return {}
    if manifest.table_format != "parquet":
        return _scan_file_stats(spark, manifest, labels, columns)
    items = [(label, manifest.file_path(label)) for label in sorted(labels)]
    cols = list(columns)

    def stats_rows(it):
        import datetime as _dt

        import pyarrow as pa
        import pyarrow.parquet as pq

        def render(v):
            if isinstance(v, (_dt.datetime, _dt.date)):
                return v.isoformat()
            if isinstance(v, bytes):
                return None
            return v

        for label, path in it:
            meta = pq.ParquetFile(path).metadata
            names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
            out = {}
            for col in cols:
                ci = names.get(col)
                if ci is None:
                    continue
                lo = hi = None
                nulls = 0
                ok = True
                nulls_known = True
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    try:
                        mn, mx = render(st.min), render(st.max)
                    except pa.ArrowNotImplementedError:
                        # a physical type pyarrow cannot decode (the
                        # fixed-length bytes of a Spark-written decimal):
                        # no stats, so the column never skips this file
                        mn = mx = None
                    if mn is None or mx is None:
                        ok = False
                        break
                    lo = mn if lo is None or mn < lo else lo
                    hi = mx if hi is None or mx > hi else hi
                    # null_count is OPTIONAL in the footer (foreign writers
                    # on imported datasets may omit it); recording 0 for
                    # "unknown" would let IS NULL pruning drop files that
                    # DO hold nulls — omit the key instead, which every
                    # consumer treats as "cannot skip"
                    if st.has_null_count:
                        nulls += st.null_count or 0
                    else:
                        nulls_known = False
                if ok and lo is not None:
                    entry = {"min": lo, "max": hi}
                    if nulls_known:
                        entry["nulls"] = nulls
                    out[col] = entry
            yield label, (out, meta.num_rows)

    n_slices = min(len(items), max(spark.sparkContext.defaultParallelism, 1) * 2)
    pairs = (
        spark.sparkContext.parallelize(items, n_slices).mapPartitions(stats_rows).collect()
    )
    return dict(pairs)


def _scan_file_stats(
    spark: SparkSession,
    manifest: DatasetManifest,
    labels: list[str],
    columns: list[str],
) -> dict[str, Any]:
    """Scan-based per-file stats for formats without a Python-side footer
    reader: one aggregation job over the format-dispatched manifest scan,
    grouped by the runtime file path. Binary columns are skipped (the
    planner never prunes on them); the exact null counts satisfy the
    stats_format-2 convention. A label whose file yields zero rows still
    returns ({}, 0) so metadata-only COUNT stays exact."""
    import datetime as _dt
    import os

    from kartothek_spark.core.urlencode import decode_file_uri_column
    from kartothek_spark.dataset.read import _scan_files

    by_name = {f.name: f.dataType for f in manifest.schema.fields}
    cols = [c for c in columns if not isinstance(by_name[c], T.BinaryType)]
    mapping = {
        os.path.abspath(manifest.file_path(lbl)): lbl for lbl in sorted(labels)
    }

    def render(v):
        if isinstance(v, (_dt.datetime, _dt.date)):
            return v.isoformat()
        return v

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.min(c).alias(f"__mn_{c}"),
            F.max(c).alias(f"__mx_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nl_{c}"),
        ]
    rows = (
        _scan_files(spark, manifest, list(mapping))
        .withColumn("__f", decode_file_uri_column(F.input_file_name()))
        .groupBy("__f")
        .agg(*aggs)
        .collect()
    )
    # FAIL LOUDLY on path-mapping drift in either direction: a scan row
    # whose decoded runtime path matches no manifest label, or a label
    # the scan produced no row for, would otherwise silently record
    # rows=0/no-stats — corrupting metadata-only COUNT and file skipping.
    # (The engine's writers never commit empty payload files, so every
    # label must group at least one row.)
    out: dict[str, Any] = {}
    unknown = []
    for r in rows:
        lbl = mapping.get(r["__f"])
        if lbl is None:
            unknown.append(r["__f"])
            continue
        stats = {}
        for c in cols:
            lo, hi = render(r[f"__mn_{c}"]), render(r[f"__mx_{c}"])
            if lo is None or hi is None:
                continue  # all-null file for this column → cannot skip
            stats[c] = {"min": lo, "max": hi, "nulls": int(r[f"__nl_{c}"])}
        out[lbl] = (stats, int(r["__rows"]))
    missing = sorted(set(labels) - set(out))
    if unknown or missing:
        raise RuntimeError(
            "scan-based stats collection could not map runtime file paths "
            f"to manifest labels (labels without a scan row: {missing[:5]}, "
            f"scan paths without a label: {unknown[:5]}) — path decoding "
            "drifted; refusing to record rows=0 for non-empty files"
        )
    return out


def collect_stats(spark: SparkSession, root: str, dataset_uuid: str) -> dict[str, Any]:
    """Dataset-level {files, row_groups, rows, size} (reference S26
    ``collect_stats`` / ``reduce_stats`` — the tree-reduce is a Spark agg)."""
    md = collect_dataset_metadata(spark, root, dataset_uuid)
    row = md.agg(
        F.countDistinct("partition_label").alias("files"),
        F.count("*").alias("row_groups"),
        F.sum("number_rows_per_row_group").alias("rows"),
        F.sum("compressed_size").alias("size"),
    ).collect()[0]
    return {
        "files": row["files"] or 0,
        "row_groups": row["row_groups"] or 0,
        "rows": int(row["rows"] or 0),
        "size": int(row["size"] or 0),
    }


__all__ = ["collect_dataset_metadata", "collect_file_stats", "collect_stats", "verify_dataset"]


def verify_dataset(root: str, dataset_uuid: str) -> dict[str, Any]:
    """Integrity check of a dataset's manifest ↔ storage invariants — the
    ops "fsck" companion to the cube layer's ``check_datasets``
    (reference io_components/cube/cleanup.py & consistency checks):

    * every partition entry's payload file exists on storage;
    * every secondary-index pointer resolves and its labels are a subset
      of the live partition set (an index referencing a dropped partition
      would resurrect deleted rows at read time);
    * CHECK constraint expressions still parse;
    * hidden-transform sources exist in the schema;
    * history snapshots referenced by ``list_versions`` load.

    Pure metadata + existence checks — no data scan, no Spark session
    (callable from any process). Returns ``{"ok": bool, "errors": [...],
    "partitions": n, "files_checked": n}``; callers wanting repair run
    ``garbage_collect_dataset`` (orphans) or ``build_dataset_indices``
    (bad index) guided by the error list."""
    import glob as _glob
    import os

    from kartothek_spark.core.manifest import DatasetManifest

    errors: list[str] = []
    manifest = DatasetManifest.load(root, dataset_uuid)

    checked = 0
    for label in manifest.partitions:
        path = manifest.file_path(label)
        checked += 1
        if not os.path.exists(path):
            errors.append(f"missing payload file for partition {label!r}: {path}")

    live = set(manifest.partitions)
    for col, rel in manifest.indices.items():
        ipath = os.path.join(manifest.root, rel)
        if not (os.path.isdir(ipath) or os.path.exists(ipath)):
            errors.append(f"index {col!r} points at missing path {rel!r}")
            continue
        try:
            import pyarrow.parquet as pq

            files = (
                sorted(_glob.glob(os.path.join(ipath, "*.parquet")))
                if os.path.isdir(ipath)
                else [ipath]
            )
            stale: set[str] = set()
            for f in files:
                t = pq.read_table(f, columns=["partitions"])
                for arr in t.column("partitions").to_pylist():
                    stale.update(lbl for lbl in arr if lbl not in live)
            if stale:
                errors.append(
                    f"index {col!r} references {len(stale)} non-live partition "
                    f"label(s), e.g. {sorted(stale)[:3]} — rebuild with "
                    f"build_dataset_indices"
                )
        except Exception as exc:  # unreadable index parquet
            errors.append(f"index {col!r} unreadable: {type(exc).__name__}: {exc}")

    schema_cols = {f.name for f in manifest.schema.fields}
    for name, expr in manifest.constraints.items():
        # cheap sanity without a Spark session: non-empty expression text
        # (full parse validation happens on every write via _guard_constraints)
        if not str(expr).strip():
            errors.append(f"constraint {name!r} has an empty expression")
    for pcol, spec in manifest.partition_transforms.items():
        if spec.get("src") not in schema_cols:
            errors.append(
                f"hidden transform {pcol!r} sources missing column {spec.get('src')!r}"
            )

    for v in DatasetManifest.list_versions(root, dataset_uuid):
        try:
            DatasetManifest.load(root, dataset_uuid, version=v)
        except Exception as exc:
            errors.append(f"history snapshot v{v} unreadable: {type(exc).__name__}")

    return {
        "ok": not errors,
        "errors": errors,
        "partitions": len(manifest.partitions),
        "files_checked": checked,
    }
