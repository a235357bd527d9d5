"""Dataset write / mutation lifecycle.

Re-expresses the reference write pipeline (survey §3.4:
``store_dataframes_as_dataset`` eager.py:589-641, ``write_partition``
write.py:53-90, ``store_dataset_from_partitions`` write.py:169-243,
``update_dataset_from_ddf`` dask/dataframe.py:408-480 in /root/reference)
Spark-first:

* the data write is one native ``df.write.partitionBy(keys).parquet`` —
  distributed, codegen'd, shuffle-free unless bucketing asks for one;
* file enumeration + manifest construction + index jobs happen after the
  data lands (two-phase write: files first, one atomic manifest put last —
  a crashed writer leaves only unreferenced garbage for GC);
* mutations never touch rows: append partitions + drop partitions
  (``delete_scope``) in a single manifest swap.
"""

from __future__ import annotations

import os
import shutil
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kartothek_spark.core import index as ktk_index
from kartothek_spark.core.manifest import (
    TABLE,
    DatasetManifest,
    list_datasets,
    new_uuid,
)
from kartothek_spark.core.schema import (
    SchemaIncompatible,
    normalize_dataframe,
    validate_compatible,
)


def _enumerate_parquet(data_root: str, suffix: str = ".parquet") -> list[str]:
    """Relative (to data_root) paths of payload files just written."""
    out = []
    for dirpath, _dirs, files in os.walk(data_root):
        for name in files:
            if name.endswith(suffix):
                rel = os.path.relpath(os.path.join(dirpath, name), data_root)
                out.append(rel)
    return sorted(out)


# "csv.gz" = gzip-compressed CSV (reference kartothek reads/writes .csv.gz
# through the same serializer, serialization/_csv.py:25-120 + the suffix
# registry in serialization/_generic.py:37-154)
_FORMAT_SUFFIX = {
    "parquet": ".parquet",
    "csv": ".csv",
    "csv.gz": ".csv.gz",
    "jsonl": ".json",
    "orc": ".orc",
}


def format_suffix(table_format: str) -> str:
    return _FORMAT_SUFFIX[table_format]


def _label_for(rel_file: str) -> str:
    """Partition label = hive dirs + file stem (mirrors the reference's
    ``K1=V1/K2=V2/<partition_uuid>`` labels)."""
    # longest suffix first so ".csv.gz" strips before ".csv" matches
    for suf in sorted(_FORMAT_SUFFIX.values(), key=len, reverse=True):
        if rel_file.endswith(suf):
            return rel_file[: -len(suf)]
    return rel_file


_NULL_KEY_MSG = "null values in partition keys"
_CONSTRAINT_MSG = "CHECK constraint violated:"


def _guard_constraints(df: DataFrame, constraints: dict[str, str]) -> DataFrame:
    """CHECK-constraint rider (Delta `ALTER TABLE ADD CONSTRAINT`
    semantics): each constraint becomes an ``assert_true`` riding the
    write scan — zero extra passes over the input; a violating row aborts
    the write before any file becomes part of a commit (the crashed
    attempt leaves only GC-able orphans, like every failed write). NULL
    results are treated as violations (a constraint must prove itself)."""
    for name, expr in constraints.items():
        cond = F.coalesce(F.expr(expr).cast("boolean"), F.lit(False))
        msg = f"{_CONSTRAINT_MSG} {name}: {expr}"
        df = df.where(F.assert_true(cond, F.lit(msg)).isNull())
    return df

# path-encoded hash-bucket hive level (never part of the payload schema)
BUCKET_COL = "__ktk_bucket"

# ephemeral z-order key: drives the range exchange + within-file sort,
# dropped before files land
ZORDER_COL = "__ktk_zorder"
ZORDER_BITS = 6  # 64 quantile buckets per column


def _zorder_numeric(c: str, dt) -> F.Column:
    """Monotone double rendering of a z-order column (quantiles + bucket
    comparisons run on this view). Numeric/date/timestamp only — z-order
    is a multi-column RANGE layout; hashing strings would destroy the
    range locality that makes the skipping work."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.FloatType, T.DoubleType, T.DecimalType)):
        return F.col(c).cast("double")
    if isinstance(dt, T.DateType):
        return F.datediff(F.col(c), F.lit("1970-01-01").cast("date")).cast("double")
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
    raise TypeError(
        f"zorder_by column {c!r} has non-orderable-numeric type {dt.simpleString()}"
    )


def _zorder_column(df: DataFrame, zorder_by: Sequence[str]) -> F.Column:
    """Interleaved-bit z-value over per-column QUANTILE bucket indices
    (Delta OSS-style multi-column clustering). One approxQuantile pass
    computes 63 boundaries per column (rank-based, so skew cannot collapse
    the grid the way linear width_bucket would); each row's bucket index
    is a BINARY-SEARCH ``when`` tree over the boundary constants — 6
    comparisons per row inside whole-stage codegen, not a 64-element
    higher-order fold (HOF lambdas evaluate interpreted per element: the
    fold form measured 10x slower on a 600k-row write). The 6-bit indices
    then interleave into one integer whose range layout gives EVERY
    zorder_by column selective per-file min/max — the multi-column
    data-skipping layout a single-column range sort cannot provide."""
    import functools

    by_name = {f.name: f.dataType for f in df.schema.fields}
    views = {c: _zorder_numeric(c, by_name[c]) for c in zorder_by}
    qdf = df.select(*[views[c].alias(c) for c in zorder_by])
    n_b = (1 << ZORDER_BITS) - 1
    probs = [i / (n_b + 1) for i in range(1, n_b + 1)]
    # 1% rank error is plenty for a LAYOUT decision (boundaries only move
    # rows between adjacent buckets) and the Greenwald-Khanna cost scales
    # with 1/error
    bounds = dict(zip(zorder_by, qdf.approxQuantile(list(zorder_by), probs, 0.01)))

    def bucket_index(view: F.Column, b: list[float]) -> F.Column:
        # index = #boundaries <= value ∈ [0, len(b)]; nulls → bucket 0
        def rec(lo: int, hi: int) -> F.Column:
            if lo == hi:
                return F.lit(lo)
            mid = (lo + hi + 1) // 2  # decide on boundary b[mid-1]
            return F.when(view >= F.lit(float(b[mid - 1])), rec(mid, hi)).otherwise(
                rec(lo, mid - 1)
            )

        return F.coalesce(rec(0, len(b)), F.lit(0))

    n = len(zorder_by)
    terms = []
    for ci, c in enumerate(zorder_by):
        idx = bucket_index(views[c], bounds[c] or [0.0])
        for bit in range(ZORDER_BITS):
            terms.append(
                F.shiftleft(F.shiftright(idx, bit).bitwiseAND(F.lit(1)), bit * n + ci)
            )
    return functools.reduce(lambda a, b: a.bitwiseOR(b), terms)


def _guard_null_partition_keys(df: DataFrame, partition_on: Sequence[str]) -> DataFrame:
    """Inline null-partition-key guard (reference raises on null keys,
    metapartition.py:1574-1579; Spark would silently write
    __HIVE_DEFAULT_PARTITION__). Realized as an always-true filter around
    ``assert_true`` so the check rides the write scan itself — no separate
    full pass over the input, which at scale would double every write."""
    if not partition_on:
        return df
    cond = None
    for k in partition_on:
        c = F.col(k).isNotNull()
        cond = c if cond is None else (cond & c)
    msg = f"{_NULL_KEY_MSG} {list(partition_on)}"
    return df.where(F.assert_true(cond, F.lit(msg)).isNull())


def _attach_file_stats(
    spark: SparkSession, manifest: DatasetManifest, labels: Sequence[str]
) -> None:
    """Collect + attach per-file column stats AND row counts for
    ``labels`` (no-op when the manifest declares no stats columns).
    Recorded ``rows`` enable metadata-only COUNT answering
    (:func:`kartothek_spark.dataset.read.count_rows`) — Delta's
    ``numRecords`` analog."""
    if not manifest.stats_columns or not labels:
        return
    from kartothek_spark.dataset.metadata import collect_file_stats

    stats = collect_file_stats(spark, manifest, list(labels), manifest.stats_columns)
    for lbl, (st, n_rows) in stats.items():
        if st:
            manifest.partitions[lbl]["stats"] = st
        manifest.partitions[lbl]["rows"] = n_rows
    # Stamp the omit-when-unknown null-count convention (stats_format 2)
    # only when it now holds for EVERY stats-bearing entry: either the
    # manifest was already format 2, or every entry carrying stats was
    # (re-)collected in this pass. A legacy-format manifest that gains a
    # few fresh partitions stays format 1 — its untouched entries may
    # still hold a false nulls=0 — until a full stats rebuild upgrades it.
    fresh = set(labels)
    if manifest.stats_format < 2 and all(
        "stats" not in entry or lbl in fresh
        for lbl, entry in manifest.partitions.items()
    ):
        manifest.stats_format = 2


def _write_files(
    df: DataFrame,
    data_root: str,
    partition_on: Sequence[str],
    sort_partitions_by: Sequence[str] | None,
    bucket_by: Sequence[str] | None,
    num_buckets: int | None,
    table_format: str = "parquet",
    range_partition_by: Sequence[str] | None = None,
    zorder_by: Sequence[str] | None = None,
    bloom_filter_columns: Sequence[str] | None = None,
    bloom_ndv: int = 100_000,
    max_rows_per_file: int | None = None,
) -> None:
    out = _guard_null_partition_keys(df, partition_on)
    part_cols = list(partition_on)
    if bucket_by and num_buckets:
        # reference _shuffle.py:23-37: hash-bucket within each hive
        # partition. The bucket id is PATH-ENCODED as an extra hive level,
        # so equality reads on bucket_by prune to a single bucket directory
        # (dispatch_labels computes the literal's bucket and drops the
        # rest) — "bounded file set" made literal. The column is consumed
        # by partitionBy and never lands in payload files; reads project
        # to the manifest schema so it stays invisible.
        out = out.withColumn(
            BUCKET_COL,
            F.pmod(F.xxhash64(*[F.col(c) for c in bucket_by]), F.lit(num_buckets)),
        )
        part_cols.append(BUCKET_COL)
    # BinaryType partition keys: Spark's own hive-path rendering
    # stringifies binary UTF-8-lossily (non-UTF8 bytes become U+FFFD in
    # the directory name — silent corruption). Render them ourselves as
    # "x" + lowercase hex BEFORE partitionBy (and AFTER bucket hashing,
    # which must see the raw bytes): inert under Spark's path escaping,
    # never captured by partition type inference (the "x" prefix keeps
    # "0102" from becoming the integer 102), and order-preserving (fixed
    # two chars per byte), so range predicates translate. Decoded by
    # _typed_value (manifest) and read_table's unhex re-typing.
    from pyspark.sql import types as T_

    by_name = {f.name: f.dataType for f in out.schema.fields}
    for c in partition_on:
        if isinstance(by_name.get(c), T_.BinaryType):
            out = out.withColumn(
                c, F.concat(F.lit("x"), F.lower(F.hex(F.col(c))))
            )
    # AQE rebalance instead of a plain repartition: a hot partition
    # value (or bucket) is SPLIT across tasks by advisory size and
    # small values coalesce — plain repartition(keys) pins each value
    # to exactly one task, which at 100 TB turns one popular key into
    # one multi-hour straggler writing one giant file. Unpartitioned
    # writes rebalance by size alone, so compaction of a fragmented
    # unpartitioned dataset actually merges files.
    if zorder_by:
        # z-order layout: range-exchange + within-file sort on the
        # interleaved key, then DROP it — only the layout survives, read
        # back as per-file min/max selectivity on all zorder_by columns
        out = out.withColumn(ZORDER_COL, _zorder_column(df, zorder_by))
        out = out.repartitionByRange(F.col(ZORDER_COL))
        out = out.sortWithinPartitions(ZORDER_COL, *(sort_partitions_by or []))
        out = out.drop(ZORDER_COL)
    elif range_partition_by:
        # global range layout: files cover narrow, near-disjoint value
        # ranges of these columns, which is what makes manifest min/max
        # skipping (and row-group pruning) selective. The range exchange
        # samples boundaries, so output file CONTENT is deterministic but
        # file boundaries are not — only stats pruning may depend on them,
        # and it is conservative either way.
        out = out.repartitionByRange(*range_partition_by)
        out = out.sortWithinPartitions(*(sort_partitions_by or range_partition_by))
    else:
        out = out.hint("rebalance", *part_cols) if part_cols else out.hint("rebalance")
        if sort_partitions_by:
            # row-group stat locality for later min/max skipping
            out = out.sortWithinPartitions(*sort_partitions_by)
    writer = out.write.mode("append")
    if max_rows_per_file:
        # the reference's ParquetSerializer(chunk_size=...) knob
        # (_parquet.py:100-105: pre-sorted 50k-200k-row row groups): cap
        # rows per output file so row-group stat locality and scan split
        # granularity stay controllable independent of task sizing
        writer = writer.option("maxRecordsPerFile", str(max_rows_per_file))
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    for c in bloom_filter_columns or ():
        # parquet-mr bloom filters: the reader consults them for pushed
        # equality/IN predicates, skipping row groups a point lookup on a
        # high-cardinality column cannot match — complements min/max stats
        # (useless for uniformly-spread ids) at the cost of ~1.2 bytes/ndv
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer = writer.option(f"parquet.bloom.filter.expected.ndv#{c}", str(bloom_ndv))
    try:
        if table_format in ("csv", "csv.gz"):
            # reference CSV serializer (_csv.py:25-120): no pushdown, types
            # restored from the manifest schema on read; "csv.gz" adds the
            # reference's gzip codec (files land as part-*.csv.gz)
            if table_format == "csv.gz":
                writer = writer.option("compression", "gzip")
            writer.option("header", "false").csv("file://" + os.path.abspath(data_root))
        elif table_format == "jsonl":
            # newline-delimited JSON — the lingua franca of LLM corpus
            # interchange; schema restored from the manifest on read
            writer.json("file://" + os.path.abspath(data_root))
        elif table_format == "orc":
            # columnar alternative with native stripe-level predicate
            # pushdown in Spark's reader. Manifest stats (stats_columns)
            # and secondary indices work here too — stats come from the
            # scan-based collector (_scan_file_stats) since the container
            # has no Python-side ORC footer reader; only bloom filters /
            # zorder_by / collect_dataset_metadata stay parquet-only
            writer.orc("file://" + os.path.abspath(data_root))
        else:
            writer.parquet("file://" + os.path.abspath(data_root))
    except Exception as exc:  # surface the inline guards as the API error
        if _NULL_KEY_MSG in str(exc):
            raise ValueError(f"{_NULL_KEY_MSG} {list(partition_on)}") from None
        if _CONSTRAINT_MSG in str(exc):
            import re as _re

            m = _re.search(rf"{_CONSTRAINT_MSG}[^\n']*", str(exc))
            raise ValueError(m.group(0) if m else _CONSTRAINT_MSG) from None
        raise
    # drop Spark's _SUCCESS marker; the manifest is the commit marker
    marker = os.path.join(data_root, "_SUCCESS")
    if os.path.exists(marker):
        os.unlink(marker)


def store_dataframe_as_dataset(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    dataset_uuid: str | None = None,
    partition_on: Sequence[str] = (),
    sort_partitions_by: Sequence[str] | None = None,
    secondary_indices: Sequence[str] = (),
    bucket_by: Sequence[str] | None = None,
    num_buckets: int | None = None,
    metadata: dict[str, Any] | None = None,
    overwrite: bool = False,
    table_format: str = "parquet",
    storage_format: str = "json",
    stats_columns: Sequence[str] = (),
    range_partition_by: Sequence[str] | None = None,
    zorder_by: Sequence[str] | None = None,
    keep_history: bool = False,
    bloom_filter_columns: Sequence[str] = (),
    bloom_ndv: int = 100_000,
    partition_transforms: Sequence[tuple[str, str, str]] = (),
    max_rows_per_file: int | None = None,
    constraints: dict[str, str] | None = None,
) -> DatasetManifest:
    """Write a DataFrame as a new dataset (reference S13/S14/S16).

    ``partition_transforms`` enables HIDDEN partitioning (Iceberg-style,
    beyond the reference — see ``core/transforms.py``): each
    ``(name, fn, src_col)`` derives a partition column ``name =
    fn(src_col)`` (``fn`` ∈ day/month/year/truncate:<w>) that writers
    compute automatically, the default read projection hides, and
    predicates on the RAW source column prune (the planner widens raw
    literals through the monotone transform). The derived names are
    appended after ``partition_on``. Transform sources must be non-null
    (the same null-partition-key rule as ``partition_on``).
    ``table_format="csv"`` selects the CSV serializer (reference S3) —
    no pushdown, no secondary indices, schema restored from the manifest;
    ``"csv.gz"`` is the same serializer with the reference's gzip codec
    (``.csv.gz`` files, serialization/_csv.py:25-120).
    ``table_format="jsonl"`` writes newline-delimited JSON (the standard
    LLM-corpus interchange format) under the same manifest/mutation
    machinery — no pushdown, schema restored from the manifest on read.
    ``bloom_filter_columns`` embeds parquet bloom filters for those
    columns in every payload file (``bloom_ndv`` expected distinct values
    per file): point lookups on high-cardinality non-partition columns
    then skip row groups inside the scan, where min/max stats cannot.
    ``storage_format="zstd"`` commits a zstd-compressed manifest (the
    reference's msgpack.zstd metadata codec; the scale choice when
    partition counts reach millions).

    ``stats_columns`` records per-file min/max/null-count for those content
    columns in the manifest (Delta/Iceberg-style data skipping, collected
    from parquet footers by one distributed job) — the planner then drops
    files a conjunction cannot match without opening them.
    ``range_partition_by`` replaces the default AQE rebalance with a global
    range layout on those columns (plus a within-file sort), so each file
    covers a narrow value range and stats pruning actually bites.
    ``zorder_by`` is the MULTI-column version (Delta OSS-style z-ordering):
    rows cluster by an interleaved-bit key over per-column quantile bucket
    indices, so every listed column gets selective per-file min/max — a
    predicate on ANY of them skips files, where a single-column range sort
    only serves its leading column. The listed columns are auto-added to
    ``stats_columns``. Costs one extra approxQuantile pass at write time.
    ``keep_history=True`` makes every commit additionally write an immutable
    manifest snapshot — enabling ``read_table(as_of=version)`` time travel
    and :func:`kartothek_spark.dataset.read.read_changes` incremental feeds
    (see ``DatasetManifest.version``); reclaim old versions with
    :func:`expire_snapshots` + :func:`garbage_collect_dataset`."""
    dataset_uuid = dataset_uuid or new_uuid()
    if DatasetManifest.exists(root, dataset_uuid):
        if not overwrite:
            raise ValueError(f"dataset {dataset_uuid!r} already exists")
        delete_dataset(root, dataset_uuid)
    if table_format not in _FORMAT_SUFFIX:
        raise ValueError(f"unsupported format {table_format!r}")
    if bloom_filter_columns:
        if table_format != "parquet":
            raise ValueError("bloom filter columns require parquet payloads")
        known = {f.name for f in df.schema.fields}
        bad = [c for c in bloom_filter_columns if c not in known]
        if bad:
            raise ValueError(f"bloom filter columns not in schema: {bad}")
    if zorder_by:
        if range_partition_by:
            raise ValueError("zorder_by and range_partition_by are mutually exclusive")
        if table_format != "parquet":
            raise ValueError("zorder_by requires parquet payloads")
        # the z layout exists to feed min/max skipping on these columns
        stats_columns = list(dict.fromkeys(list(stats_columns) + list(zorder_by)))
    if stats_columns:
        known = {f.name for f in df.schema.fields}
        bad = [c for c in stats_columns if c not in known]
        if bad:
            raise ValueError(f"stats columns not in schema: {bad}")

    transforms: dict[str, dict[str, str]] = {}
    if partition_transforms:
        from kartothek_spark.core.transforms import apply_transforms, check_transform

        known = {f.name for f in df.schema.fields}
        for name, fn, src in partition_transforms:
            check_transform(fn)
            if src not in known:
                raise ValueError(f"transform source column {src!r} not in schema")
            if name in known or name in transforms:
                raise ValueError(f"derived partition column {name!r} collides with an existing column")
            transforms[name] = {"fn": fn, "src": src}
        df = apply_transforms(df, transforms)
        partition_on = list(partition_on) + [n for n in transforms if n not in partition_on]

    df = normalize_dataframe(df)
    if constraints:
        for name, expr in constraints.items():
            F.expr(expr)  # syntax check up front, clean error
        df = _guard_constraints(df, dict(constraints))

    manifest = DatasetManifest(
        dataset_uuid=dataset_uuid,
        root=root,
        schema=df.schema,
        partition_keys=list(partition_on),
        metadata=dict(metadata or {}),
        table_format=table_format,
        bucket_by=list(bucket_by or []),
        num_buckets=num_buckets if bucket_by else None,
        storage_format=storage_format,
        stats_columns=list(stats_columns),
        keep_history=keep_history,
        bloom_columns=list(bloom_filter_columns),
        partition_transforms=transforms,
        constraints=dict(constraints or {}),
    )
    _write_files(
        df, manifest.data_root, partition_on, sort_partitions_by, bucket_by, num_buckets,
        table_format=table_format, range_partition_by=range_partition_by,
        zorder_by=zorder_by, bloom_filter_columns=bloom_filter_columns,
        bloom_ndv=bloom_ndv, max_rows_per_file=max_rows_per_file,
    )

    suffix = format_suffix(table_format)
    for rel in _enumerate_parquet(manifest.data_root, suffix):
        manifest.partitions[_label_for(rel)] = {"file": manifest.payload_entry(rel)}

    _attach_file_stats(spark, manifest, list(manifest.partitions))

    for col in secondary_indices:
        manifest.indices[col] = ktk_index.build_index(spark, manifest, col)

    manifest.commit()
    return manifest


def build_dataset_indices(
    spark: SparkSession, root: str, dataset_uuid: str, columns: Sequence[str]
) -> DatasetManifest:
    """Post-hoc secondary index build over all partitions + commit
    (reference X5 ``build_dataset_indices``, io/eager.py:877-917)."""
    manifest = DatasetManifest.load(root, dataset_uuid)
    for col in columns:
        manifest.indices[col] = ktk_index.build_index(spark, manifest, col)
    manifest.commit()
    return manifest


def create_empty_dataset_header(
    spark: SparkSession,
    root: str,
    dataset_uuid: str,
    schema,
    partition_keys: Sequence[str] = (),
    metadata: dict[str, Any] | None = None,
    table_format: str = "parquet",
) -> DatasetManifest:
    """Pre-create a schema-only dataset (reference S18
    ``create_empty_dataset_header``, io/eager.py:642-716): zero
    partitions, committed manifest — later ``write_single_partition`` +
    ``commit_dataset`` attach data two-phase."""
    if DatasetManifest.exists(root, dataset_uuid):
        raise ValueError(f"dataset {dataset_uuid!r} already exists")
    manifest = DatasetManifest(
        dataset_uuid=dataset_uuid,
        root=root,
        schema=schema,
        partition_keys=list(partition_keys),
        metadata=dict(metadata or {}),
        table_format=table_format,
    )
    manifest.commit()
    return manifest


def write_single_partition(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    dataset_uuid: str,
) -> dict[str, str]:
    """Write payload files WITHOUT committing (reference S18
    ``write_single_partition``, io/eager.py:717-799) — returns
    {label: root-relative file} for a later :func:`commit_dataset`. Until
    that commit the files are invisible to readers and GC-able."""
    manifest = DatasetManifest.load(root, dataset_uuid)
    df = normalize_dataframe(df)
    validate_compatible([manifest.schema, df.schema])
    suffix = format_suffix(manifest.table_format)
    before = set(_enumerate_parquet(manifest.data_root, suffix))
    _write_files(df, manifest.data_root, manifest.partition_keys, None,
                 manifest.bucket_by, manifest.num_buckets,
                 table_format=manifest.table_format,
                 bloom_filter_columns=manifest.bloom_columns)
    return {
        _label_for(rel): manifest.payload_entry(rel)
        for rel in _enumerate_parquet(manifest.data_root, suffix)
        if rel not in before
    }


def update_dataset(
    spark: SparkSession,
    df: DataFrame | None,
    root: str,
    dataset_uuid: str,
    delete_scope: list[dict[str, Any]] | None = None,
    sort_partitions_by: Sequence[str] | None = None,
    metadata: dict[str, Any] | Callable[[DatasetManifest], dict[str, Any]] | None = None,
    schema_evolution: bool = False,
    max_conflict_retries: int = 3,
    zorder_by: Sequence[str] | None = None,
) -> DatasetManifest:
    """Append + delete partitions in ONE atomic commit (reference
    ``update_dataset_from_ddf`` / ``update_dataset_from_partitions``,
    update.py:23-57). ``delete_scope`` = list of {partition_key: value}
    dicts selecting victim partitions; replacing a partition = same scope
    deleted + new rows appended, atomically.

    ``metadata`` may be a CALLABLE ``manifest -> dict``: it is evaluated
    against the freshly-loaded manifest of each commit attempt (including
    conflict rebases), which is how counter-style metadata (e.g. the text
    index's exact corpus totals) advances without lost updates when
    appenders race — a plain dict would re-apply stale absolutes on
    rebase.

    ``schema_evolution=True`` relaxes the strict schema check to a merge
    (:func:`kartothek_spark.core.schema.evolve_schema`): the incoming frame
    may add new columns (read back as NULL for pre-evolution files — the
    scan supplies the manifest schema explicitly, so no footer merging at
    plan time) and may omit existing non-key columns; same-name columns
    must stay in the same type class. The widened schema commits atomically
    with the data. Beyond the reference (which rejects any column-set
    drift, common_metadata.py:586-671); semantics follow Delta
    ``mergeSchema``.

    Concurrency: commits use optimistic concurrency control
    (:class:`kartothek_spark.core.manifest.CommitConflict`). On conflict
    the data files already on disk are kept and only the METADATA work is
    rebased — reload the live manifest, re-resolve the delete scope
    against it, re-attach the new files, re-run incremental index
    maintenance — up to ``max_conflict_retries`` times, so concurrent
    appenders all land without clobbering each other."""
    from kartothek_spark.core.manifest import CommitConflict

    manifest = DatasetManifest.load(root, dataset_uuid)

    # phase 1 — once: land payload files. Layout config (partition keys,
    # bucketing, format, bloom columns) is create-time-invariant, so
    # concurrent commits cannot change what this write depends on.
    new_entries: dict[str, dict[str, Any]] = {}
    if df is not None:
        if manifest.partition_transforms:
            from kartothek_spark.core.transforms import apply_transforms

            # Hidden derived partition columns are engine-owned: drop any
            # caller-supplied column of the same name and re-derive from the
            # source column. Trusting caller values would let inconsistent
            # rows land in partitions violating the transform invariant,
            # after which widen_conjunction-based pruning silently drops
            # matching rows. Internal rewrite paths (compact, sync) read the
            # dataset with transform columns hidden, so re-derivation is the
            # path they already take; derivation is a cheap deterministic
            # column expression either way.
            present = [c for c in manifest.partition_transforms if c in df.columns]
            if present:
                df = df.drop(*present)
            df = apply_transforms(df, manifest.partition_transforms)
        df = normalize_dataframe(df)
        if manifest.constraints:
            # fail-closed with a clean error when an (evolved) write omits
            # a column a CHECK constraint references — a missing column
            # would land as NULL, which the constraint cannot prove
            for cname, expr in manifest.constraints.items():
                try:
                    df.select(F.expr(expr))
                except Exception:
                    raise SchemaIncompatible(
                        f"write omits column(s) referenced by CHECK constraint "
                        f"{cname!r} ({expr}); drop the constraint or supply the column"
                    ) from None
            df = _guard_constraints(df, manifest.constraints)
        if schema_evolution:
            missing_keys = [
                k
                for k in list(manifest.partition_keys) + list(manifest.bucket_by)
                if k not in df.columns
            ]
            if missing_keys:
                raise SchemaIncompatible(
                    f"schema evolution cannot drop partition/bucket keys: {missing_keys}"
                )
        else:
            validate_compatible([manifest.schema, df.schema])
        suffix = format_suffix(manifest.table_format)
        before = set(_enumerate_parquet(manifest.data_root, suffix))
        if zorder_by:
            # appended files get the interleaved-quantile layout and their
            # min/max recorded, so stats pruning covers the new files too
            # (cluster_dataset rewrites everything through this path)
            manifest.stats_columns = sorted(set(manifest.stats_columns) | set(zorder_by))
        _write_files(df, manifest.data_root, manifest.partition_keys, sort_partitions_by,
                     manifest.bucket_by, manifest.num_buckets,
                     table_format=manifest.table_format,
                     zorder_by=list(zorder_by) if zorder_by else None,
                     bloom_filter_columns=manifest.bloom_columns)
        for rel in _enumerate_parquet(manifest.data_root, suffix):
            if rel not in before:
                new_entries[_label_for(rel)] = {"file": manifest.payload_entry(rel)}
    new_labels = sorted(new_entries)

    # new-file stats are content-determined — collect once, reuse on rebase
    for label, entry in new_entries.items():
        manifest.partitions[label] = entry
    _attach_file_stats(spark, manifest, new_labels)
    for label in new_labels:
        new_entries[label] = manifest.partitions[label]

    # phase 2 — metadata transaction, rebased on conflict
    last_conflict: CommitConflict | None = None
    for attempt in range(max(0, max_conflict_retries) + 1):
        if attempt:
            manifest = DatasetManifest.load(root, dataset_uuid)
            if zorder_by:  # re-apply the layout metadata on rebase
                manifest.stats_columns = sorted(
                    set(manifest.stats_columns) | set(zorder_by)
                )
        if df is not None:
            if schema_evolution:
                from kartothek_spark.core.schema import evolve_schema

                manifest.schema = evolve_schema(manifest.schema, df.schema)
            else:
                validate_compatible([manifest.schema, df.schema])
        for label, entry in new_entries.items():
            manifest.partitions[label] = dict(entry)

        removed: list[str] = []
        for scope in delete_scope or []:
            removed.extend(manifest.query(**scope))
        removed = sorted(set(removed) - set(new_labels))
        for label in removed:
            manifest.partitions.pop(label, None)

        # incremental index maintenance: drop removed labels, merge new
        # ones (an aborted attempt leaves only GC-able orphan index files)
        for col in list(manifest.indices):
            manifest.indices[col] = ktk_index.update_index(
                spark, manifest, col, new_labels=new_labels, removed_labels=removed
            )

        if metadata:
            # a callable derives its dict from the manifest version this
            # attempt will commit against (re-invoked on every rebase) —
            # the read-modify-write form for counter-style metadata that a
            # plain dict cannot express without lost updates under
            # concurrent commits
            manifest.metadata.update(
                metadata(manifest) if callable(metadata) else metadata
            )
        try:
            manifest.commit()
            return manifest
        except CommitConflict as exc:
            last_conflict = exc
    raise last_conflict


def commit_dataset(
    spark: SparkSession,
    root: str,
    dataset_uuid: str,
    new_partitions: dict[str, str],
    schema,
    partition_keys: Sequence[str] = (),
    delete_scope: list[dict[str, Any]] | None = None,
    metadata: dict[str, Any] | None = None,
) -> DatasetManifest:
    """Commit externally-written parquet files (two-phase write, reference
    ``commit_dataset`` eager.py:433-551). ``new_partitions`` maps label →
    root-relative file path."""
    if DatasetManifest.exists(root, dataset_uuid):
        manifest = DatasetManifest.load(root, dataset_uuid)
        validate_compatible([manifest.schema, schema])
    else:
        manifest = DatasetManifest(
            dataset_uuid=dataset_uuid,
            root=root,
            schema=schema,
            partition_keys=list(partition_keys),
            metadata=dict(metadata or {}),
        )
    dupes = set(new_partitions) & set(manifest.partitions)
    if dupes:
        raise ValueError(f"duplicate partition labels: {sorted(dupes)[:5]}")
    for scope in delete_scope or []:
        for label in manifest.query(**scope):
            manifest.partitions.pop(label, None)
    for label, rel in new_partitions.items():
        manifest.partitions[label] = {"file": rel}
    if metadata:
        manifest.metadata.update(metadata)
    manifest.commit()
    return manifest


def compact_dataset(
    spark: SparkSession,
    root: str,
    dataset_uuid: str,
    sort_partitions_by: Sequence[str] | None = None,
) -> DatasetManifest:
    """Small-file compaction: rewrite every payload file through the
    AQE-rebalanced write path and swap the manifest once.

    Streaming ingest (one commit per micro-batch) and frequent appends
    accumulate many small files per hive partition; at 100 TB that tanks
    scan throughput (per-file open cost, tiny row groups, no stat
    locality). Compaction is one distributed read→write job: the rebalance
    hint merges small partition values into ~advisory-sized output files
    and splits hot ones, ``sort_partitions_by`` optionally restores
    row-group stat locality, and the commit is the same atomic manifest
    swap as every other mutation — readers see either the old file set or
    the new one, never a mix; replaced files become GC-able orphans."""
    from kartothek_spark.dataset.read import read_table

    return update_dataset(
        spark,
        read_table(spark, root, dataset_uuid),
        root,
        dataset_uuid,
        delete_scope=[{}],  # every existing partition label
        sort_partitions_by=sort_partitions_by,
    )


def cluster_dataset(
    spark: SparkSession,
    root: str,
    dataset_uuid: str,
    zorder_by: Sequence[str],
) -> DatasetManifest:
    """Re-cluster an EXISTING dataset into a z-order layout (Delta
    ``OPTIMIZE ... ZORDER BY`` analog; beyond the reference): one
    distributed read→write job rewrites every payload file through the
    interleaved-quantile layout, records per-file min/max for the z-order
    columns in the manifest, and swaps atomically — after which range
    conjunctions on those columns plan to a strict file subset via stats
    pruning (same machinery as ``store_dataframe_as_dataset(zorder_by=)``,
    now available post-hoc for datasets whose query pattern emerged after
    the initial write). Replaced files become GC-able orphans; with
    ``keep_history`` the pre-cluster snapshot stays time-travelable."""
    from kartothek_spark.dataset.read import read_table

    return update_dataset(
        spark,
        read_table(spark, root, dataset_uuid),
        root,
        dataset_uuid,
        delete_scope=[{}],  # every existing partition label
        zorder_by=list(zorder_by),
    )


def delete_dataset(root: str, dataset_uuid: str) -> None:
    """Delete files then metadata — reverse commit order (reference S22),
    so a crash mid-delete never leaves a manifest pointing at nothing.
    For an external (attached) dataset this removes metadata + indices
    only — the external payload directory is not owned by the engine.

    Sidecar-promoted datasets invert the order: their partition list
    lives INSIDE the data dir, so rmtree-first would leave a live
    manifest that cannot even be loaded after a crash; unlinking the
    manifest first leaves only orphaned payload, which is the
    recoverable direction (re-create or remove the directory)."""
    from kartothek_spark.core.manifest import (
        METADATA_SUFFIX,
        METADATA_SUFFIX_ZST,
        DatasetManifest,
    )

    def _unlink_manifests() -> None:
        for suffix in (METADATA_SUFFIX, METADATA_SUFFIX_ZST):
            manifest_path = os.path.join(root, dataset_uuid + suffix)
            if os.path.exists(manifest_path):
                os.unlink(manifest_path)

    try:
        raw = DatasetManifest._load_raw_dict(root, dataset_uuid)[0]
        sidecar = bool(raw.get("partitions_ref"))
    except Exception:
        sidecar = False
    if sidecar:
        _unlink_manifests()
    data_dir = os.path.join(root, dataset_uuid)
    if os.path.isdir(data_dir):
        shutil.rmtree(data_dir)
    _unlink_manifests()


def garbage_collect_dataset(root: str, dataset_uuid: str) -> list[str]:
    """Delete files under the dataset prefix not referenced by the manifest
    (failed writes, dropped indices) — reference S23 (gc.py:8-55).
    Returns deleted paths. At scale this is a listing + anti-join driven
    from the manifest; here the listing is the local walk.

    History-aware: files referenced by ANY retained snapshot stay live
    (time travel must keep working), so reclaiming replaced payload files
    is a two-step ``expire_snapshots`` → ``garbage_collect_dataset``
    (Delta VACUUM semantics)."""
    manifest = DatasetManifest.load(root, dataset_uuid)
    manifests = [manifest]
    for v in DatasetManifest.list_versions(root, dataset_uuid):
        if v != manifest.version:
            manifests.append(DatasetManifest.load(root, dataset_uuid, version=v))
    referenced = {
        os.path.normpath(p["file"]) for m in manifests for p in m.partitions.values()
    }
    # index "files" are parquet directories — everything under them is live
    referenced_prefixes = tuple(
        os.path.normpath(p) + os.sep for m in manifests for p in m.indices.values()
    )
    referenced |= {os.path.normpath(p) for m in manifests for p in m.indices.values()}
    deleted = []
    data_dir = os.path.join(root, dataset_uuid)
    for dirpath, _dirs, files in os.walk(data_dir):
        for name in files:
            # '.'/'_' files are Hadoop-invisible bookkeeping (.crc
            # checksums, committer markers) — never payload, and their
            # count varies with task parallelism; leave them alone
            if name.startswith((".", "_")):
                continue
            full = os.path.join(dirpath, name)
            rel = os.path.normpath(os.path.relpath(full, root))
            if rel not in referenced and not rel.startswith(referenced_prefixes):
                os.unlink(full)
                deleted.append(rel)
    # prune now-empty dirs
    for dirpath, dirs, files in os.walk(data_dir, topdown=False):
        if not dirs and not files and dirpath != data_dir:
            os.rmdir(dirpath)
    return sorted(deleted)


def attach_dataset(
    spark: SparkSession,
    root: str,
    dataset_uuid: str,
    data_path: str,
    partition_keys: Sequence[str] | None = None,
    secondary_indices: Sequence[str] = (),
    stats_columns: Sequence[str] = (),
    metadata: dict[str, Any] | None = None,
) -> DatasetManifest:
    """Zero-copy ATTACH of an existing hive-partitioned parquet directory
    as a managed dataset (beyond the reference): no rewrite, no copy —
    the manifest simply records the existing files (absolute paths), the
    schema is read from the data, and every engine capability that needs
    no relayout works immediately: pruned reads, secondary indices,
    manifest stats skipping, cube membership, time travel going forward.
    This is how a user of plain ``spark.write.partitionBy`` directories
    switches to the engine without touching 100 TB of payload.

    Semantics of external datasets: mutations append new files INTO
    ``data_path``; GC never reclaims external payload files (the engine
    does not own them); ``delete_dataset`` removes metadata + indices only
    (a zero-copy detach); ``copy_dataset`` refuses (attach at the target
    instead, or ``convert_dataset`` to materialize a managed copy)."""
    if DatasetManifest.exists(root, dataset_uuid):
        raise ValueError(f"dataset {dataset_uuid!r} already exists")
    data_path = os.path.abspath(data_path)
    if not os.path.isdir(data_path):
        raise ValueError(f"data_path {data_path!r} is not a directory")
    # store root-relative when the external dir lives under root, so the
    # whole root directory stays relocatable (rename/copy-safe)
    stored_root = data_path
    abs_root = os.path.abspath(root)
    if data_path == abs_root or data_path.startswith(abs_root + os.sep):
        stored_root = os.path.relpath(data_path, abs_root)
    rels = _enumerate_parquet(data_path, ".parquet")
    if not rels:
        raise ValueError(f"no parquet files under {data_path!r}")

    # partition keys: declared, or inferred from the first file's hive dirs
    if partition_keys is None:
        partition_keys = [
            seg.split("=", 1)[0]
            for seg in rels[0].split(os.sep)[:-1]
            if "=" in seg
        ]
    # schema (incl. typed partition columns) from the data itself
    schema = normalize_dataframe(
        spark.read.option("basePath", "file:" + data_path).parquet("file:" + data_path)
    ).schema
    missing = [k for k in partition_keys if k not in {f.name for f in schema.fields}]
    if missing:
        raise ValueError(f"partition keys not present in data: {missing}")

    manifest = DatasetManifest(
        dataset_uuid=dataset_uuid,
        root=root,
        schema=schema,
        partition_keys=list(partition_keys),
        metadata=dict(metadata or {}),
        external_root=stored_root,
        stats_columns=list(stats_columns),
    )
    for rel in rels:
        manifest.partitions[_label_for(rel)] = {"file": manifest.payload_entry(rel)}
    _attach_file_stats(spark, manifest, list(manifest.partitions))
    for col in secondary_indices:
        manifest.indices[col] = ktk_index.build_index(spark, manifest, col)
    manifest.commit()
    return manifest


def convert_dataset(
    spark: SparkSession,
    root: str,
    dataset_uuid: str,
    target_uuid: str,
    target_root: str | None = None,
    table_format: str = "parquet",
    **store_kwargs: Any,
) -> DatasetManifest:
    """Re-materialize a dataset in another payload format — the standard
    corpus-ingestion flow (raw JSONL/CSV drop → managed parquet with
    indices, stats, layout) as ONE distributed read→write job. Partition
    keys carry over unless overridden; every ``store_dataframe_as_dataset``
    option (``secondary_indices``, ``stats_columns``, ``zorder_by``,
    ``bloom_filter_columns``, ...) applies to the target, so a conversion
    can also install the scale layout the raw drop lacked."""
    from kartothek_spark.dataset.read import read_table

    src = DatasetManifest.load(root, dataset_uuid)
    target_root = target_root or root
    if target_root == root and target_uuid == dataset_uuid:
        raise ValueError("conversion target must differ from the source")
    store_kwargs.setdefault("partition_on", list(src.partition_keys))
    return store_dataframe_as_dataset(
        spark,
        read_table(spark, root, dataset_uuid),
        target_root,
        target_uuid,
        table_format=table_format,
        metadata=dict(src.metadata),
        **store_kwargs,
    )


def expire_snapshots(root: str, dataset_uuid: str, keep_last: int = 1) -> list[int]:
    """Drop all but the newest ``keep_last`` history snapshots (the live
    version is always readable regardless). Expired versions stop being
    time-travel targets and release their exclusive file references —
    a following :func:`garbage_collect_dataset` then reclaims payload
    files no retained version needs. Returns the expired version numbers."""
    if keep_last < 0:
        raise ValueError("keep_last must be >= 0")
    manifest = DatasetManifest.load(root, dataset_uuid)
    hist = manifest.history_root
    if not os.path.isdir(hist):
        return []
    snaps = sorted(
        int(name[2:10])
        for name in os.listdir(hist)
        if name.startswith("_v") and ".manifest" in name
    )
    victims = snaps[: max(0, len(snaps) - keep_last)]
    from kartothek_spark.core.manifest import _sidecars

    for v in victims:
        for suffix in (".json", ".json.zst"):
            p = os.path.join(hist, f"_v{v:08d}.manifest{suffix}")
            if os.path.exists(p):
                os.unlink(p)
    # the expired versions' partition-list sidecars go with them — EXCEPT
    # the live version's, which the live manifest still points at
    # (keep_last=0 expires the live snapshot but not the live state)
    for v, sc in _sidecars(root, dataset_uuid):
        if v in victims and v != manifest.version:
            os.unlink(sc)
    return victims


def _copy_files_distributed(spark: "SparkSession", pairs: list[tuple[str, str]]) -> None:
    """Task-side file copy: the (src, dst) list is parallelized and each
    task copies its slice — at 100 TB the copy bandwidth is the cluster's,
    not the driver's. Local-fs copy here; on an object store the same shape
    holds with the store client in the task."""
    if not pairs:
        return
    n_slices = min(len(pairs), spark.sparkContext.defaultParallelism * 2)

    def _copy(batch):
        import os as _os
        import shutil as _shutil

        for s, d in batch:
            _os.makedirs(_os.path.dirname(d), exist_ok=True)
            _shutil.copy2(s, d)
        return []

    spark.sparkContext.parallelize(pairs, n_slices).mapPartitions(
        lambda it: _copy(it)
    ).count()


def copy_dataset(
    root: str,
    dataset_uuid: str,
    target_root: str,
    target_uuid: str | None = None,
    spark: "SparkSession | None" = None,
) -> DatasetManifest:
    """Copy a dataset with UUID rewrite of manifest + file keys (reference
    S24, eager.py:946+). With a SparkSession the data files are copied by a
    distributed job (the reference copies driver-side; at scale that is the
    bottleneck, so the Spark form is the default path from copy_cube);
    without one it falls back to a serial driver copy. The manifest is
    rewritten and committed on the driver AFTER all files land — commit
    ordering matches every other mutation (files first, manifest last)."""
    src = DatasetManifest.load(root, dataset_uuid)
    if src.external_root:
        raise ValueError(
            "copy_dataset of an external (attached) dataset is ambiguous — "
            "attach_dataset at the target, or convert_dataset to materialize"
        )
    target_uuid = target_uuid or dataset_uuid
    if DatasetManifest.exists(target_root, target_uuid):
        raise ValueError(f"target dataset {target_uuid!r} exists")
    dst = DatasetManifest(
        dataset_uuid=target_uuid,
        root=target_root,
        schema=src.schema,
        partition_keys=list(src.partition_keys),
        metadata=dict(src.metadata),
        table_format=src.table_format,
        bucket_by=list(src.bucket_by),
        num_buckets=src.num_buckets,
        storage_format=src.storage_format,
        stats_columns=list(src.stats_columns),
        keep_history=src.keep_history,
        bloom_columns=list(src.bloom_columns),
        partition_transforms=dict(src.partition_transforms),
        constraints=dict(src.constraints),
    )
    file_pairs: list[tuple[str, str]] = []
    for label, entry in src.partitions.items():
        rel = entry["file"]
        new_rel = rel.replace(dataset_uuid, target_uuid, 1)
        file_pairs.append((os.path.join(root, rel), os.path.join(target_root, new_rel)))
        # carry every non-path attribute (file stats, row counts) unchanged
        dst.partitions[label] = {**entry, "file": new_rel}
    for col, rel in src.indices.items():
        new_rel = rel.replace(dataset_uuid, target_uuid, 1)
        s, d = os.path.join(root, rel), os.path.join(target_root, new_rel)
        if os.path.isdir(s):
            # index "file" is a parquet directory — enumerate its files
            for dirpath, _dirs, files in os.walk(s):
                for name in files:
                    full = os.path.join(dirpath, name)
                    file_pairs.append((full, os.path.join(d, os.path.relpath(full, s))))
        else:
            file_pairs.append((s, d))
        dst.indices[col] = new_rel
    if spark is not None:
        _copy_files_distributed(spark, file_pairs)
    else:
        for s, d in file_pairs:
            os.makedirs(os.path.dirname(d), exist_ok=True)
            shutil.copy2(s, d)
    dst.commit()
    return dst


__all__ = [
    "attach_dataset",
    "build_dataset_indices",
    "commit_dataset",
    "compact_dataset",
    "convert_dataset",
    "copy_dataset",
    "create_empty_dataset_header",
    "expire_snapshots",
    "expire_partitions",
    "write_single_partition",
    "delete_dataset",
    "garbage_collect_dataset",
    "list_datasets",
    "store_dataframe_as_dataset",
    "update_dataset",
]


def expire_partitions(
    spark: SparkSession,
    root: str,
    dataset_uuid: str,
    predicates,
) -> list[str]:
    """Retention: atomically drop every partition matching a DNF over the
    PARTITION KEYS (e.g. ``[[("d", "<", date(2024, 1, 1))]]`` on a
    day-partitioned — or hidden day-TRANSFORM-partitioned — dataset drops
    all expired days). Purely a manifest operation plus one commit: no
    data is read or rewritten, dropped files become GC-able orphans, and
    with ``keep_history`` the pre-expiry snapshot stays time-travelable
    until ``expire_snapshots``. Predicates touching non-partition columns
    are rejected — row-level deletion is :func:`kartothek_spark.dataset.
    dml.delete_rows`' job, not retention's. Returns the dropped labels."""
    from kartothek_spark.core.predicates import check_predicates

    check_predicates(predicates)
    manifest = DatasetManifest.load(root, dataset_uuid)
    pk = set(manifest.partition_keys)
    bad = {c for conj in predicates for c, _op, _v in conj if c not in pk}
    if bad:
        raise ValueError(
            f"expire_partitions predicates must reference partition keys only; "
            f"got non-partition columns {sorted(bad)} (use dml.delete_rows for "
            f"row-level deletes)"
        )
    labels = manifest.query(predicates)
    if not labels:
        return []
    scopes = [manifest.partition_values(label) for label in labels]
    update_dataset(spark, None, root, dataset_uuid, delete_scope=scopes)
    return sorted(labels)
