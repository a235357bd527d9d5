"""Manifest-driven pruned read path.

Re-expresses the reference read lifecycle (survey §3.1:
``read_table`` io/eager.py:344, ``dispatch_metapartitions_from_factory``
io_components/read.py:75-178, ``MetaPartition.load_dataframes``
metapartition.py:735-884 in /root/reference) Spark-first:

* the PLANNER (driver, O(1) store round-trips, no Spark job) prunes the
  file list with the partition-key part of the DNF (labels parsed from
  hive paths) and with secondary inverted indices (read on the driver with
  pyarrow, the value filter pushed into row groups; driver memory is
  bounded by the matching index rows);
* the SCAN is one ``spark.read.parquet(*surviving_files)`` with
  ``basePath`` so partition columns are reconstructed typed from paths —
  Spark never even sees non-matching files, which is the entire point of
  the metadata layer at 100 TB (no S3 LIST, no footer reads for pruned
  files);
* row-group min/max pruning and residual filtering are delegated to
  Catalyst by pushing the full DNF as a ``where`` — checked via
  ``PushedFilters`` in the plan, not re-implemented.
"""

from __future__ import annotations

import itertools
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kartothek_spark.core import index as ktk_index
from kartothek_spark.core.manifest import DatasetManifest
from kartothek_spark.core.predicates import (
    Predicates,
    check_predicates,
    coerce_predicate_literals,
    evaluate_conjunction_py,
    predicates_to_column,
    validate_predicate_types,
)


def dispatch_labels(
    spark: SparkSession,
    manifest: DatasetManifest,
    predicates: Predicates | None = None,
) -> list[str]:
    """Plan-time pruning: per conjunction, intersect (a) partition-key
    evaluation over labels with (b) each indexed column's index hits; OR =
    union across conjunctions (reference ``get_indices_as_dataframe`` +
    ``_evaluate_conjunction``, core/dataset.py:393-516)."""
    check_predicates(predicates)
    if predicates is None:
        return sorted(manifest.partitions)
    # typed literals first (ISO date strings, int→float) so the driver-side
    # evaluation below compares like against like — then the strict check
    predicates = coerce_predicate_literals(predicates, manifest.schema)
    validate_predicate_types(predicates, manifest.schema)

    surviving: set[str] = set()
    for conj in predicates:
        conj = list(conj)
        if manifest.partition_transforms:
            # hidden partitioning: widen raw-column literals to the
            # derived partition level (sound: monotone transforms,
            # additive literals — pruning stays a superset of the filter)
            from kartothek_spark.core.transforms import widen_conjunction

            conj = conj + widen_conjunction(conj, manifest.partition_transforms)
        labels = set(manifest.query([conj]))
        if not labels:
            continue
        # group this conjunction's literals by indexed column. A literal
        # matching NULL rows (`== None`, `in [..., None]`) must NOT be
        # evaluated against the index — indices store non-null values only
        # (reference build_indices dropna, metapartition.py:1371-1420), so
        # using them there would prune files whose only matches are nulls.
        # Every other op can only match non-null rows (SQL semantics), for
        # which the index is complete — pruning stays a strict superset of
        # the scan-time filter.
        by_col: dict[str, list] = {}
        for lit in conj:
            col, op, value = lit
            if (op == "==" and value is None) or (
                op == "in" and any(v is None for v in value)
            ):
                continue
            if col in manifest.indices and col not in manifest.partition_keys:
                by_col.setdefault(col, []).append(lit)
        # smallest-first is irrelevant here: each index query returns a
        # label set; python set-intersection replaces the reference's
        # smallest-first frame joins
        for col, lits in by_col.items():
            hits = ktk_index.query_index_labels(spark, manifest, col, lits)
            labels &= hits
            if not labels:
                break
        labels = _prune_buckets(spark, manifest, conj, labels)
        labels = _prune_stats(manifest, conj, labels)
        surviving |= labels
    return sorted(surviving)


def _stats_typed(raw, dt):
    """Manifest stats are JSON-native (ints/floats/bools as-is, datelike as
    ISO strings); re-type string renderings against the schema with the
    same parser the hive-label reconstruction uses."""
    from kartothek_spark.core.manifest import _typed_value

    if isinstance(raw, str):
        return _typed_value(raw, dt)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(raw)
    return raw


def _prune_stats(manifest: DatasetManifest, conj, labels: set) -> set:
    """File skipping on manifest min/max statistics (Delta/Iceberg-style,
    beyond the reference's partition + index pruning): drop a file when a
    conjunction literal on a stats column cannot hold anywhere in the
    file's [min, max]. Conservative by construction — a file with no stats
    entry for the column (all-null footer, unreadable stats, pre-stats
    write) is never dropped, null-matching literals never consult stats
    (min/max say nothing about nulls), and incomparable types fall through
    to the scan filter."""
    if not manifest.stats_columns or not labels:
        return labels
    lits = []
    for col, op, val in conj:
        if col not in manifest.stats_columns:
            continue
        if op == "==" and val is None:
            # IS NULL: a file whose footer records zero nulls cannot
            # match (files lacking a stats entry — incl. all-null files,
            # which have no min/max — are never skipped)
            lits.append((col, "isnull", None))
        elif op == "in" and val is not None and any(v is None for v in val):
            lits.append((col, "in_with_null", [v for v in val if v is not None]))
        elif val is None:
            continue  # e.g. != NULL — all-null files carry no stats entry
        else:
            lits.append((col, op, val))
    if not lits:
        return labels
    by_name = {f.name: f.dataType for f in manifest.schema.fields}
    # Legacy collectors (stats_format 1) recorded nulls=0 when a foreign
    # footer omitted null_count — a zero there is NOT evidence of zero
    # nulls, so null-count-based skipping is disabled until the dataset's
    # stats are re-collected under the omit-when-unknown convention.
    trust_zero_nulls = manifest.stats_format >= 2
    out = set()
    for lbl in labels:
        stats = manifest.partitions[lbl].get("stats") or {}
        if _stats_may_match(lits, stats, by_name, trust_zero_nulls):
            out.add(lbl)
    return out


def _binary_partition_keys(manifest) -> dict[str, str]:
    """BinaryType partition keys → their path codec: ``"hex"`` for the
    engine layout (``x<hex>`` directory rendering, see ``_write_files``),
    ``"percent"`` for imported-in-place reference datasets. The scan
    schema pins these partition columns to STRING (path inference would
    mis-type a byte value that parses as a number, e.g. b'0102' -> dir
    '0102' -> int 102, silently dropping the leading zero); read_table
    re-types
    them (unhex / Latin-1 byte recovery) and predicate literals are
    translated into the same string domain so pushdown still prunes —
    both renderings are order-preserving over the raw bytes."""
    return {
        f.name: manifest.binary_codec
        for f in manifest.schema.fields
        if f.name in manifest.partition_keys
        and isinstance(f.dataType, T.BinaryType)
    }


def _binary_scan_literal(v, codec: str):
    if isinstance(v, (list, tuple, set)):
        return [_binary_scan_literal(x, codec) for x in v]
    if not isinstance(v, (bytes, bytearray)):
        return v
    b = bytes(v)
    if codec == "hex":
        return "x" + b.hex()
    # Spark's path unescaping maps each %XX to the code point XX, so the
    # inferred string is the Latin-1 view of the raw bytes
    return b.decode("ISO-8859-1")


def _translate_binary_predicates(predicates, binkeys: dict[str, str]):
    """Rewrite binary partition-key literals into the scan's string
    domain (the hive-inferred column is a string; comparing it against a
    binary literal would silently match nothing)."""
    if not predicates or not binkeys:
        return predicates
    return [
        [
            (c, op, _binary_scan_literal(v, binkeys[c])) if c in binkeys else (c, op, v)
            for (c, op, v) in conj
        ]
        for conj in predicates
    ]


def _retyped_col(c: str, dt, binkeys: dict[str, str]):
    """Manifest-schema re-typing of one output column; binary partition
    keys decode from their path rendering instead of a plain cast."""
    if c in binkeys:
        if binkeys[c] == "hex":
            return F.unhex(F.expr(f"substring(`{c}`, 2)")).alias(c)
        return F.encode(F.col(c), "ISO-8859-1").alias(c)
    return F.col(c).cast(dt).alias(c)


def _stats_may_match(lits, stats, by_name, trust_zero_nulls: bool = True) -> bool:
    for col, op, val in lits:
        s = stats.get(col)
        if not s:
            continue
        dt = by_name[col]
        if isinstance(dt, T.BinaryType):
            continue  # path-rendered; scan filter owns binary predicates
        if op == "isnull":
            if trust_zero_nulls and s.get("nulls") == 0:
                return False
            continue
        if op == "in_with_null":
            if not trust_zero_nulls or s.get("nulls", 1) > 0:
                continue  # may match via a null row (or zero untrusted)
            if not val:
                return False  # only-null literal list, zero nulls here
            op = "in"  # zero nulls: reduce to the non-null membership check
        try:
            lo = _stats_typed(s["min"], dt)
            hi = _stats_typed(s["max"], dt)
            if op == "==":
                if val < lo or val > hi:
                    return False
            elif op == "!=":
                # nulls default 1 (UNKNOWN -> cannot skip), matching the
                # isnull/in_with_null convention: a file with lo==hi==val
                # but an unrecorded null count may still hold NULL rows,
                # which driver-eval semantics treat as matching != val
                if trust_zero_nulls and lo == hi == val and not s.get("nulls", 1):
                    return False
            elif op == "<":
                if not lo < val:
                    return False
            elif op == "<=":
                if not lo <= val:
                    return False
            elif op == ">":
                if not hi > val:
                    return False
            elif op == ">=":
                if not hi >= val:
                    return False
            elif op == "in":
                if not any(lo <= v <= hi for v in val if v is not None):
                    return False
        except (TypeError, ValueError):
            continue  # incomparable/unparseable stats → cannot skip safely
    return True


def _prune_buckets(spark: SparkSession, manifest: DatasetManifest, conj, labels: set) -> set:
    """Bucket pruning (reference S20 hash-bucketing made prunable): when a
    conjunction pins EVERY bucket_by column with a non-null equality, only
    the literal's hash bucket can contain matching rows — the bucket id is
    computed on the driver with a pure-Python XXH64 bit-exact to the JVM
    ``xxhash64`` the writer used (no Spark job on the planning path; a
    point lookup plans in microseconds), then the path-encoded bucket id
    filters the label set driver-side. Types the Python hash can't render
    fall back to a one-row Spark job."""
    from kartothek_spark.core.xxhash import UnsupportedXxhashType, spark_pmod_xxhash64
    from kartothek_spark.dataset.write import BUCKET_COL

    if not manifest.num_buckets or not labels:
        return labels
    eqs = {c: v for c, op, v in conj if op == "==" and v is not None}
    if not all(c in eqs for c in manifest.bucket_by):
        return labels
    by_name = {f.name: f.dataType for f in manifest.schema.fields}
    try:
        bucket = spark_pmod_xxhash64(
            [eqs[c] for c in manifest.bucket_by],
            [by_name[c] for c in manifest.bucket_by],
            manifest.num_buckets,
        )
    except UnsupportedXxhashType:
        bucket = (
            spark.range(1)
            .select(
                F.pmod(
                    F.xxhash64(*[F.lit(eqs[c]).cast(by_name[c]) for c in manifest.bucket_by]),
                    F.lit(manifest.num_buckets),
                ).alias("b")
            )
            .first()["b"]
        )
    prefix = f"{BUCKET_COL}="
    out = set()
    for lbl in labels:
        bid = next((seg[len(prefix):] for seg in lbl.split("/") if seg.startswith(prefix)), None)
        if bid is None or int(bid) == bucket:
            out.add(lbl)
    return out


def empty_dataframe(spark: SparkSession, manifest: DatasetManifest, columns: Sequence[str] | None = None) -> DataFrame:
    schema = manifest.schema
    if columns is not None:
        by_name = {f.name: f for f in schema.fields}
        schema = T.StructType([by_name[c] for c in columns])
    elif manifest.partition_transforms:
        # match read_table's default projection: hidden derived columns out
        schema = T.StructType(
            [f for f in schema.fields if f.name not in manifest.partition_transforms]
        )
    return spark.createDataFrame([], schema)


def read_dataset_files(
    spark: SparkSession,
    root: str,
    dataset_uuid: str,
    predicates: Predicates | None = None,
) -> tuple[DatasetManifest, list[str]]:
    """(manifest, pruned absolute file list) — the planner output."""
    manifest = DatasetManifest.load(root, dataset_uuid)
    labels = dispatch_labels(spark, manifest, predicates)
    return manifest, manifest.files(labels)


def _typed(df: DataFrame, manifest: DatasetManifest, columns: Sequence[str] | None) -> DataFrame:
    """Enforce the manifest types (hive partition columns come back from
    path inference, e.g. IntegerType — cast to the normalized schema) and
    the reference's column order guarantee. Hidden partitioning: derived
    partition columns stay invisible by default (they're storage layout,
    not data) — ask via ``columns=``."""
    binkeys = _binary_partition_keys(manifest)
    by_name = {f.name: f.dataType for f in manifest.schema.fields}
    if columns is None:
        columns = [f.name for f in manifest.schema.fields
                   if f.name not in manifest.partition_transforms]
    return df.select(*[_retyped_col(c, by_name[c], binkeys) for c in columns])


def scan_labels(
    spark: SparkSession, manifest: DatasetManifest, labels: Sequence[str],
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Typed scan of exactly ``labels`` of an already-loaded manifest, with
    no planning and no further manifest load: all labels of a snapshot
    read as ``read_table(as_of=manifest.version)`` does."""
    if not labels:
        return empty_dataframe(spark, manifest, columns)
    return _typed(_scan_files(spark, manifest, manifest.files(list(labels))), manifest, columns)


def _scan_files(spark: SparkSession, manifest: DatasetManifest, files: list[str]) -> DataFrame:
    """Format-dispatched scan of a manifest file list (reference S4 format
    registry, serialization/_generic.py:37-154)."""
    base = "file:" + os.path.abspath(manifest.data_root)
    uris = ["file:" + os.path.abspath(p) for p in files]
    # explicit scan schema, shared by every format: payload columns carry
    # their manifest types (no footer inference/merging, files written
    # before a schema evolution read their missing columns as NULL,
    # int/float width widening is handled by the columnar readers, and
    # typeless formats csv/jsonl restore their types from it). Partition
    # keys are ALSO listed — Spark honors user-specified types for hive
    # partition columns over path inference — pinned to the manifest type
    # (binary keys to STRING: their path rendering, e.g. percent-codec
    # b'0102' -> dir '0102', must NOT be inferred as int 102, which would
    # drop the leading zero and break _binary_scan_literal's string-domain
    # predicates). Levels absent from the manifest (the path-encoded
    # bucket dir) still append from discovery.
    binkeys = _binary_partition_keys(manifest)
    scan_schema = T.StructType(
        [f for f in manifest.schema.fields if f.name not in manifest.partition_keys]
        + [
            T.StructField(
                f.name, T.StringType() if f.name in binkeys else f.dataType
            )
            for f in manifest.schema.fields
            if f.name in manifest.partition_keys
        ]
    )
    if manifest.table_format in ("csv", "csv.gz"):
        # CSV payload files hold the non-partition columns in schema order;
        # gzip members decompress transparently off the .csv.gz suffix (one
        # stream per file — a gzip CSV file is a single non-splittable
        # task, same as the reference's per-partition files)
        return (
            spark.read.option("basePath", base)
            .option("header", "false")
            .schema(scan_schema)
            .csv(uris)
        )
    if manifest.table_format == "jsonl":
        return spark.read.option("basePath", base).schema(scan_schema).json(uris)
    if manifest.table_format == "orc":
        # NB: reader.orc takes the path LIST as one argument — extra
        # positionals would bind to options (mergeSchema, modifiedBefore)
        return spark.read.option("basePath", base).schema(scan_schema).orc(uris)
    return spark.read.option("basePath", base).schema(scan_schema).parquet(*uris)


def read_table(
    spark: SparkSession,
    root: str,
    dataset_uuid: str,
    predicates: Predicates | None = None,
    columns: Sequence[str] | None = None,
    dispatch_by: Sequence[str] | None = None,
    filter_query: str | None = None,
    index_on: str | None = None,
    label_filter=None,
    as_of: int | str | None = None,
) -> DataFrame:
    """Materialize a dataset as ONE DataFrame (reference S8 ``read_table``).

    ``dispatch_by`` ≈ the reference's plan-level grouping (read.py:132-164):
    we realize it as a repartition on those columns so each output partition
    holds exactly one value-combination's rows — zero extra shuffle when the
    columns are partition keys and AQE coalesces.

    ``filter_query`` is the reference's ``filter_query`` escape hatch (P8,
    serialization/_generic.py:157-166): an arbitrary SQL boolean expression
    applied after predicate pruning — mutually exclusive with ``predicates``.

    ``index_on`` ≈ the reference's ``dask_index_on`` (S12,
    io/dask/dataframe.py:160-167): range-partition + sort the result by one
    column so downstream per-key work is co-located and ordered.

    ``label_filter`` is the reference's ``label_filter`` read parameter
    (U4, io/eager.py:352): a ``str -> bool`` callable applied to the
    surviving partition labels before the scan — a driver-side escape
    hatch for callers that encode meaning into labels.

    ``as_of`` is a time-travel read: plan against the immutable manifest
    snapshot committed as that version (requires the dataset to be written
    with ``keep_history=True``). An ``int`` is a version number; a ``str``
    is an ISO-8601 instant resolved to the newest version committed at or
    before it ("AS OF <timestamp>"). The snapshot pins the exact file set,
    so the read is reproducible regardless of later appends/deletes — the
    property a training pipeline needs to re-run an experiment against
    yesterday's corpus while ingestion continues.
    """
    if filter_query is not None and predicates is not None:
        raise ValueError("filter_query and predicates are mutually exclusive")
    if isinstance(as_of, str):
        as_of = DatasetManifest.version_at(root, dataset_uuid, as_of)
    manifest = DatasetManifest.load(root, dataset_uuid, version=as_of)
    predicates = coerce_predicate_literals(predicates, manifest.schema)
    labels = dispatch_labels(spark, manifest, predicates)
    if label_filter is not None:
        labels = [lbl for lbl in labels if label_filter(lbl)]
    if not labels:
        return empty_dataframe(spark, manifest, columns)

    df = _scan_files(spark, manifest, manifest.files(labels))
    if predicates is not None:
        # full DNF pushed to Catalyst: row-group stats pruning + residual
        # filtering happen JVM-side (PushedFilters in the plan)
        binkeys = _binary_partition_keys(manifest)
        df = df.where(
            predicates_to_column(_translate_binary_predicates(predicates, binkeys))
        )
    if filter_query is not None:
        df = df.where(F.expr(filter_query))
    df = _typed(df, manifest, columns)

    if dispatch_by:
        df = df.repartition(*[F.col(c) for c in dispatch_by])
    if index_on:
        df = df.repartitionByRange(F.col(index_on)).sortWithinPartitions(index_on)
    return df


def read_dataset_dispatched(
    spark: SparkSession,
    root: str,
    dataset_uuid: str,
    dispatch_by: Sequence[str],
    predicates: Predicates | None = None,
    columns: Sequence[str] | None = None,
):
    """Per-group dispatched read with an attached logical conjunction —
    the reference's ``dispatch_by`` plan-time form (P10,
    io_components/read.py:132-164, metapartition.py:103-114): one logical
    group per distinct value-combination of ``dispatch_by``, each realized
    as its OWN pruned read whose predicates are the caller's DNF AND-ed
    with the group's ``[(col, ==, value)]`` restriction. Yields
    ``(group_values_dict, conjunction, DataFrame)`` in sorted group order.

    ``dispatch_by`` columns must be partition keys or secondary-indexed —
    group discovery is metadata-only (labels / index values), never a data
    scan; each group's DataFrame then plans with the conjunction visible
    to the file pruner AND Catalyst (partition + row-group pruning per
    group)."""
    manifest = DatasetManifest.load(root, dataset_uuid)
    predicates = coerce_predicate_literals(predicates, manifest.schema)
    base_labels = set(dispatch_labels(spark, manifest, predicates))
    if not base_labels:
        return

    for col in dispatch_by:
        if col not in manifest.partition_keys and col not in manifest.indices:
            raise ValueError(
                f"dispatch_by column {col!r} is neither a partition key nor "
                "secondary-indexed — group discovery would need a data scan"
            )

    # group values per label, metadata-only, one conjunction at a time: a
    # group is kept when its values may satisfy some conjunction (the
    # reference filters index values by the predicate the same way). An
    # indexed column can map one label to several groups; the per-group
    # conjunction re-filters rows.
    groups: set[tuple] = set()
    for conj in predicates or [[]]:
        per_label: dict[str, list[list]] = {lbl: [] for lbl in base_labels}
        for col in dispatch_by:
            lits = [lit for lit in conj if lit[0] == col]
            if col in manifest.partition_keys:
                for lbl in base_labels:
                    v = manifest.partition_values(lbl)[col]
                    per_label[lbl].append([v] if evaluate_conjunction_py(lits, {col: v}) else [])
            else:
                values_by_label = ktk_index.index_values_by_label(manifest, col, base_labels, lits)
                for lbl in base_labels:
                    per_label[lbl].append(values_by_label.get(lbl, []))
        for values in per_label.values():
            groups.update(itertools.product(*values))

    for values in sorted(groups):
        conj = [(c, "==", v) for c, v in zip(dispatch_by, values)]
        preds_g = [list(base) + conj for base in (predicates or [[]])]
        df = read_table(spark, root, dataset_uuid, predicates=preds_g, columns=columns)
        yield dict(zip(dispatch_by, values)), conj, df


def label_changes(old: DatasetManifest, new: DatasetManifest) -> tuple[list[str], list[str]]:
    """(added_labels, removed_labels) from snapshot ``old`` to ``new``: the
    one diff of :func:`diff_versions`, :func:`read_changes` and the
    incremental-sync cursor step."""
    added = sorted(set(new.partitions) - set(old.partitions))
    removed = sorted(set(old.partitions) - set(new.partitions))
    return added, removed


def diff_versions(
    root: str, dataset_uuid: str, since: int, until: int | None = None
) -> tuple[list[str], list[str]]:
    """(added_labels, removed_labels) between two snapshot versions —
    metadata-only, two manifest reads, no file IO. ``until=None`` means
    the live version."""
    return label_changes(
        DatasetManifest.load(root, dataset_uuid, version=since),
        DatasetManifest.load(root, dataset_uuid, version=until),
    )


def read_changes(
    spark: SparkSession,
    root: str,
    dataset_uuid: str,
    since: int,
    until: int | None = None,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Incremental changes-since feed: the rows APPENDED between snapshot
    ``since`` (exclusive) and ``until`` (inclusive; default live).

    Mutations in this engine are append/drop of whole partitions (rows are
    never rewritten in place), so the appended-rows feed is exactly the
    files present in ``until`` but not in ``since`` — a pruned scan of only
    the new files, never a diff of row contents. Dropped partitions are
    reported by :func:`diff_versions`; a consumer maintaining a derived
    table applies drops by label and appends from this DataFrame. This is
    the incremental-ingest contract (Delta CDF-style appends) that lets a
    100 TB downstream pipeline reprocess only the day's new data."""
    new = DatasetManifest.load(root, dataset_uuid, version=until)
    old = DatasetManifest.load(root, dataset_uuid, version=since)
    return scan_labels(spark, new, label_changes(old, new)[0], columns)


def read_dataset_as_iterator(
    spark: SparkSession,
    root: str,
    dataset_uuid: str,
    predicates: Predicates | None = None,
    columns: Sequence[str] | None = None,
):
    """Generator of (label, pandas.DataFrame) per surviving partition —
    the reference's iterator backend (S9, io/iter.py:64-243). Each
    partition is fetched as ONE small Spark job; memory on the driver is
    bounded by one partition at a time. For distributed processing prefer
    :func:`read_table`; this exists for parity with streaming-to-driver
    consumers."""
    manifest = DatasetManifest.load(root, dataset_uuid)
    predicates = coerce_predicate_literals(predicates, manifest.schema)
    labels = dispatch_labels(spark, manifest, predicates)
    by_name = {f.name: f.dataType for f in manifest.schema.fields}
    binkeys = _binary_partition_keys(manifest)
    out_cols = list(columns) if columns is not None else [f.name for f in manifest.schema.fields]
    for label in labels:
        df = _scan_files(spark, manifest, [manifest.file_path(label)])
        # re-inject partition values (a single file loses hive inference
        # context when the path is the basePath anchor itself)
        inferred = set(df.columns)
        for k, v in manifest.partition_values(label).items():
            if k not in inferred:
                df = df.withColumn(k, F.lit(v))
        # binary keys that came from hive inference are STRING renderings:
        # filter in the translated string domain and decode on the way out
        # (same as read_table); injected keys are already typed — leave them
        hive_binkeys = {k: c for k, c in binkeys.items() if k in inferred}
        if predicates is not None:
            df = df.where(
                predicates_to_column(
                    _translate_binary_predicates(predicates, hive_binkeys)
                )
            )
        out = df.select(
            *[_retyped_col(c, by_name[c], hive_binkeys) for c in out_cols]
        )
        # Arrow transfer + self_destruct: the arrow buffers are released
        # column-by-column as the pandas frame is built, so driver peak
        # memory for a wide partition is ~1x the frame instead of the 2x
        # a plain toPandas() conversion holds (arrow copy + pandas copy)
        yield label, out.toArrow().to_pandas(
            self_destruct=True, split_blocks=True, use_threads=False
        )


def count_rows(
    spark: SparkSession,
    root: str,
    dataset_uuid: str,
    predicates: Predicates | None = None,
    allow_scan: bool = True,
    as_of: int | None = None,
) -> int:
    """COUNT(*) over the dataset, metadata-only when possible — Delta's
    numRecords / Iceberg's record_count analog.

    When every surviving partition entry carries a write-time ``rows``
    footer count (recorded whenever the dataset declares
    ``stats_columns``) AND the predicate is exactly label-resolvable
    (every referenced column is a partition key, so per-label DNF
    evaluation is exact — not merely the superset that index/stats/bucket
    pruning guarantees), the answer is a driver-side sum with ZERO Spark
    jobs. Otherwise it falls back to a pruned scan + count;
    ``allow_scan=False`` raises instead, for callers that require the
    metadata path (dashboards, admission control)."""
    from kartothek_spark.core.predicates import coerce_predicate_literals

    manifest = DatasetManifest.load(root, dataset_uuid, version=as_of)
    exact = True
    if predicates is not None:
        predicates = coerce_predicate_literals(predicates, manifest.schema)
        keys = set(manifest.partition_keys)
        cols = {c for conj in predicates for (c, _op, _v) in conj}
        exact = bool(keys) and cols <= keys
        labels = manifest.query(predicates=predicates) if exact else dispatch_labels(
            spark, manifest, predicates
        )
    else:
        labels = list(manifest.partitions)
    if exact:
        counts = [manifest.partitions[lbl].get("rows") for lbl in labels]
        if all(c is not None for c in counts):
            return int(sum(counts))
    if not allow_scan:
        raise ValueError(
            "count_rows: metadata-only count unavailable "
            + ("(predicate references non-partition-key columns)" if not exact
               else "(dataset lacks write-time row counts; write with stats_columns)")
        )
    return read_table(spark, root, dataset_uuid, predicates=predicates, as_of=as_of).count()


__all__ = [
    "count_rows",
    "diff_versions",
    "dispatch_labels",
    "empty_dataframe",
    "read_changes",
    "read_dataset_as_iterator",
    "read_dataset_files",
    "read_table",
]
