"""Secondary inverted indices as Parquet files maintained on the driver.

Parity target: the reference's ``ExplicitSecondaryIndex``
(``kartothek/core/index.py:43-955``) — ``Map[value → List[partition_label]]`` persisted as its
own Parquet file, used at plan time to prune the file list *before* any data
is read. As the reference's ``IndexBase.update`` (``core/index.py:290-336``)
and ``store`` (``:670-757``) do, every index change is one in-memory merge
on the driver with pyarrow, starting no Spark job:

* store = one snappy Parquet file ``(value, partitions: list<string>)``,
  sorted by value, at ``<uuid>/indices/<col>/<version>.by-dataset-index.parquet/part-00000.parquet``
  (a directory, so indices written by Spark, several part files and
  ``.crc``/``_SUCCESS`` bookkeeping included, keep loading);
* maintenance = read the committed index with ``pyarrow.dataset`` (explicit
  ``(value, partitions)`` schema, INT96 timestamps at microseconds), flatten
  it to ``(value, label)`` pairs, drop the removed labels, add the new
  files' pairs, and group into distinct, sorted label lists — a new file
  (copy-on-write) that the manifest pointer swap publishes. A build is the
  same merge with no committed index. Semantics are Spark's former
  ``groupBy(value).agg(collect_set(label))``: null values are left out,
  labels are distinct per value, a value whose list becomes empty is
  dropped, and on float columns -0.0 groups with 0.0 and every NaN is one
  value;
* new pairs = for parquet payloads, one ``pyarrow.dataset`` scan of the new
  labels' files with the manifest's one-column schema (widened ints cast,
  files from before a schema evolution read the column as null), nulls
  dropped and each scanned batch deduplicated; a partition-key index takes
  its values from the labels. csv, csv.gz, jsonl and orc have no pyarrow
  reader that parses as Spark does, so their pairs come from the manifest's
  Spark scan, deduplicated and collected with ``toArrow()``;
* query = evaluate the DNF conjunction on the driver with the same reader:
  the literals become one arrow filter on ``value``, pushed into row-group
  statistics, and only the ``partitions`` of matching rows are read.

Driver memory: a lookup holds the matching rows; a merge holds the
committed index's ``(value, label)`` pairs plus the new files' distinct
pairs — the bound of the reference's in-memory ``IndexBase.update``.
"""

from __future__ import annotations

import calendar
import datetime
import decimal
import math
import operator
import os
import time
import uuid as _uuid
from functools import reduce
from typing import TYPE_CHECKING, Any, Iterable, Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from kartothek_spark.core.urlencode import decode_file_uri_column

if TYPE_CHECKING:
    from kartothek_spark.core.manifest import DatasetManifest

INDEX_SUFFIX = ".by-dataset-index.parquet"


def _value_types(manifest: "DatasetManifest", column: str) -> tuple[T.DataType, pa.DataType]:
    """(Spark type, arrow type) of an indexed column in the manifest schema."""
    dt = next(f for f in manifest.schema.fields if f.name == column).dataType
    return dt, to_arrow_type(dt)


def _parquet_dataset(paths, schema: pa.Schema):
    """pyarrow dataset over local parquet ``paths`` read with ``schema``.
    Spark writes timestamps as INT96; they are read at microseconds, Spark's
    unit, and the explicit schema casts them (and widened widths) as
    Spark's own read with a schema does."""
    fmt = ds.ParquetFileFormat(
        read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
    )
    return ds.dataset(paths, schema=schema, format=fmt, filesystem=pafs.LocalFileSystem())


def _pair_schema(vtype) -> pa.Schema:
    return pa.schema([("value", vtype), ("label", pa.string())])


def _index_dataset(manifest: "DatasetManifest", column: str):
    """The committed index of ``column`` as a pyarrow dataset with the
    explicit (value typed as the manifest column, partitions) schema."""
    _dt, vtype = _value_types(manifest, column)
    return _parquet_dataset(
        os.path.abspath(os.path.join(manifest.root, manifest.indices[column])),
        pa.schema([("value", vtype), ("partitions", pa.list_(pa.string()))]),
    )


def flatten_index(index) -> pa.Table:
    """(value, label) pairs of an index table or dataset whose two columns
    are a value and its list of labels."""
    schema = _pair_schema(index.schema.field(0).type)
    batches = [
        pa.record_batch(
            [b.column(0).take(pc.list_parent_indices(b.column(1))), pc.list_flatten(b.column(1))],
            schema=schema,
        )
        for b in index.to_batches()
    ]
    return pa.Table.from_batches(batches, schema=schema)


def _new_pairs(
    spark: SparkSession, manifest: "DatasetManifest", column: str, labels: Sequence[str]
) -> pa.Table:
    """(value, label) pairs of an indexed column over the given partitions."""
    _dt, vtype = _value_types(manifest, column)
    schema = _pair_schema(vtype)
    labels = list(labels)
    if not labels:
        return schema.empty_table()
    if column in manifest.partition_keys:
        # partition-key index needs no data read: values come from labels
        values = [manifest.partition_values(lbl)[column] for lbl in labels]
        return pa.table([pa.array(values, vtype), pa.array(labels, pa.string())], schema=schema)
    paths = [os.path.abspath(manifest.file_path(lbl)) for lbl in labels]
    if manifest.table_format != "parquet":
        return _scanned_pairs(spark, manifest, column, labels, paths, schema)
    label_of = dict(zip(paths, labels))
    scanner = _parquet_dataset(paths, pa.schema([(column, vtype)])).scanner(
        filter=pc.field(column).is_valid()
    )
    batches = []
    for tagged in scanner.scan_batches():
        values = pc.unique(tagged.record_batch.column(0))
        label = pa.array([label_of[tagged.fragment.path]] * len(values), pa.string())
        batches.append(pa.record_batch([values, label], schema=schema))
    return pa.Table.from_batches(batches, schema=schema)


def _scanned_pairs(
    spark: SparkSession,
    manifest: "DatasetManifest",
    column: str,
    labels: list[str],
    paths: list[str],
    schema: pa.Schema,
) -> pa.Table:
    """(value, label) pairs of a csv/jsonl/orc payload, read by the
    manifest's Spark scan (explicit schema: files from before a schema
    evolution read the column as NULL and stay out of the index)."""
    # function-level import: read.py imports this module at its top level
    from kartothek_spark.dataset.read import _scan_files

    got = (
        _scan_files(spark, manifest, paths)
        .select(
            F.col(column).alias("value"),
            # input_file_name() yields a percent-encoded file:///… URI —
            # decode to the on-disk path so it matches the manifest's
            # even when partition values contain ':'/' '/'%'
            decode_file_uri_column(F.input_file_name()).alias("path"),
        )
        .where(F.col("value").isNotNull())
        .distinct()
        .toArrow()
    )
    label = pa.array(labels, pa.string()).take(pc.index_in(got["path"], value_set=pa.array(paths)))
    return pa.table([got["value"].cast(schema.field("value").type), label], schema=schema)


def _grouped(pairs: pa.Table, dt: T.DataType) -> pa.Table:
    """(value, distinct sorted labels) per non-null value, sorted by value —
    Spark's ``groupBy(value).agg(collect_set(label))``."""
    pairs = pairs.filter(pc.and_(pc.is_valid(pairs["value"]), pc.is_valid(pairs["label"])))
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        # Spark's groupBy normalizes -0.0 to 0.0 and every NaN to one NaN;
        # arrow's grouping tells their bit patterns apart
        v = pairs["value"]
        v = pc.if_else(pc.equal(v, 0), pa.scalar(0.0, v.type), v)
        v = pc.if_else(pc.is_nan(v), pa.scalar(math.nan, v.type), v)
        pairs = pairs.set_column(0, "value", v)
    out = (
        pairs.sort_by([("value", "ascending"), ("label", "ascending")])
        .group_by("value", use_threads=False)
        .aggregate([("label", "distinct")])
    )
    schema = pa.schema([pairs.schema.field("value"), ("partitions", pa.list_(pa.string()))])
    return pa.table([out["value"], out["label_distinct"]], schema=schema)


def _index_path(manifest: "DatasetManifest", column: str) -> str:
    version = _uuid.uuid4().hex[:12]
    return os.path.join(manifest.dataset_uuid, "indices", column, version + INDEX_SUFFIX)


def write_index(manifest: "DatasetManifest", column: str, pairs: pa.Table) -> str:
    """Group (value, label) ``pairs`` into a new version of ``column``'s
    index — the one writer of index files. Returns its root-relative path."""
    dt, _vtype = _value_types(manifest, column)
    table = _grouped(pairs, dt)
    rel = _index_path(manifest, column)
    dest = os.path.join(manifest.root, rel)
    os.makedirs(dest)
    # values are distinct, so only the labels are dictionary-encoded; only
    # the value statistics serve row-group pruning; the readers pass their
    # own schema, so the footer carries no arrow schema. An empty index is
    # a file with the schema and no row group, as Spark writes one.
    with pq.ParquetWriter(
        os.path.join(dest, "part-00000.parquet"),
        table.schema,
        compression="snappy",
        use_dictionary=["partitions.list.element"],
        write_statistics=["value"],
        store_schema=False,
    ) as w:
        if table.num_rows:
            w.write_table(table)
    return rel


def build_index(spark: SparkSession, manifest: "DatasetManifest", column: str) -> str:
    """Full (re)build — reference X5 ``build_dataset_indices``."""
    return write_index(manifest, column, _new_pairs(spark, manifest, column, manifest.partitions))


def _index_schema(manifest: "DatasetManifest", column: str) -> T.StructType:
    """(value typed as the manifest column, partitions array<string>)."""
    field = next(f for f in manifest.schema.fields if f.name == column)
    return T.StructType(
        [
            T.StructField("value", field.dataType),
            T.StructField("partitions", T.ArrayType(T.StringType())),
        ]
    )


def load_index(spark: SparkSession, manifest: "DatasetManifest", column: str) -> DataFrame:
    """Index table as (value, partitions array). The explicit schema spares
    the footer-inference job a schema-less read starts."""
    rel = manifest.indices[column]
    return spark.read.schema(_index_schema(manifest, column)).parquet(
        "file:" + os.path.abspath(os.path.join(manifest.root, rel))
    )


def update_index(
    spark: SparkSession,
    manifest: "DatasetManifest",
    column: str,
    new_labels: Sequence[str],
    removed_labels: Sequence[str],
) -> str:
    """Incremental maintenance (reference X2 ``IndexBase.update /
    remove_partitions``): flatten the committed index, drop removed
    labels, add the new labels' pairs, re-group, write a new version
    (copy-on-write)."""
    old = flatten_index(_index_dataset(manifest, column))
    if removed_labels:
        drop = pc.is_in(old["label"], value_set=pa.array(list(removed_labels), pa.string()))
        old = old.filter(pc.invert(drop))
    new = _new_pairs(spark, manifest, column, new_labels)
    return write_index(manifest, column, pa.concat_tables([old, new]))


def index_values_by_label(
    manifest: "DatasetManifest", column: str, labels: Iterable[str],
    literals: Sequence[tuple] = (),
) -> dict[str, list]:
    """label → the indexed values it holds, for ``labels``, read on the
    driver; values are the Python objects a Spark ``collect`` returns.
    With ``literals`` (one conjunction's restriction on this column) only
    the values that may satisfy them, judged as
    :func:`query_index_labels` judges them."""
    dt, vtype = _value_types(manifest, column)
    pairs = flatten_index(_index_dataset(manifest, column))
    pairs = pairs.filter(pc.is_in(pairs["label"], value_set=pa.array(list(labels), pa.string())))
    expr = _conjunction_filter(dt, vtype, literals)
    if expr is not None:
        pairs = pairs.filter(expr)
    if isinstance(dt, T.TimestampType):
        # Spark collects timestamps as naive local datetimes
        values = [dt.fromInternal(v) for v in pairs["value"].cast(pa.int64()).to_pylist()]
    else:
        values = pairs["value"].to_pylist()
    out: dict[str, list] = {}
    for value, label in zip(values, pairs["label"].to_pylist()):
        out.setdefault(label, []).append(value)
    return out


# Before this year PySpark's date and datetime literals reach Spark as
# java.sql values on the hybrid Julian calendar (and, for timestamps, with
# local-mean-time zone offsets); their Spark value is not shown equal to
# the proleptic one, so such a literal does not prune.
_CALENDAR_EXACT_FROM = 1900

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

_ARROW_OPS = {
    "==": operator.eq,
    "!=": operator.ne,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
}


def _literal_value(dt: T.DataType, v: Any) -> Any:
    """Literal ``v`` as Spark compares it against a column of type ``dt``
    (timestamps as epoch microseconds), or None when that value is not
    shown exactly — such a literal then does not prune."""
    import numpy as np

    if isinstance(v, (np.integer, np.floating, np.bool_)):
        v = v.item()  # what PySpark's lit() sends for a numpy scalar
    if isinstance(dt, T.BooleanType):
        return v if isinstance(v, bool) else None
    if isinstance(dt, _INTEGRAL):
        return v if isinstance(v, int) and not isinstance(v, bool) else None
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        # Spark orders NaN above every number and equal to itself; arrow
        # matches nothing against it
        return v if isinstance(v, float) and not math.isnan(v) else None
    if isinstance(dt, T.DecimalType):
        return v if isinstance(v, decimal.Decimal) and v.is_finite() else None
    if isinstance(dt, T.StringType):
        return v if isinstance(v, str) else None
    if isinstance(dt, T.BinaryType):
        return bytes(v) if isinstance(v, (bytes, bytearray)) else None
    if isinstance(dt, T.DateType):
        if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
            return v if v.year >= _CALENDAR_EXACT_FROM else None
        return None
    if isinstance(dt, T.TimestampType) and isinstance(v, datetime.datetime):
        if v.year < _CALENDAR_EXACT_FROM:
            return None
        # PySpark's DatetimeConverter: an aware literal is a UTC instant, a
        # naive one is local time of this process
        seconds = calendar.timegm(v.utctimetuple()) if v.tzinfo else time.mktime(v.timetuple())
        return int(seconds) * 1_000_000 + v.microsecond
    return None  # TimestampNTZ, nested types: not shown exact


def _literal_filter(dt: T.DataType, arrow_type, op: str, literal: Any):
    """Arrow filter on ``value`` equal to Spark's ``value <op> literal`` on
    non-NaN values, or None when the literal cannot prune exactly."""
    value = pc.field("value")
    try:
        if op == "in":
            vals = [_literal_value(dt, v) for v in literal]
            if any(v is None for v in vals):
                return None
            if isinstance(dt, (T.FloatType, T.DoubleType)) and 0.0 in vals:
                # arrow's is_in tells -0.0 from 0.0 apart; Spark does not
                vals += [0.0, -0.0]
            return value.isin(pa.array(vals, arrow_type))
        v = _literal_value(dt, literal)
        if v is None:
            return None
        return _ARROW_OPS[op](value, pa.scalar(v, arrow_type))
    except (ArithmeticError, ValueError, TypeError, pa.ArrowException):
        # out of the column type's range or precision, or not encodable
        return None


def _conjunction_filter(dt: T.DataType, arrow_type, literals: Sequence[tuple]):
    """Arrow filter on ``value`` keeping every value that may satisfy all
    ``literals``, or None when none of them prunes: literals not shown
    exact are left out, and on float columns a NaN value is always kept."""
    conds = [_literal_filter(dt, arrow_type, op, v) for (_c, op, v) in literals]
    conds = [c for c in conds if c is not None]
    expr = reduce(operator.and_, conds) if conds else None
    if expr is not None and isinstance(dt, (T.FloatType, T.DoubleType)):
        expr = expr | pc.is_nan(pc.field("value"))
    return expr


def query_index_labels(
    spark: SparkSession,
    manifest: "DatasetManifest",
    column: str,
    literals: Sequence[tuple],
) -> set[str]:
    """Labels whose index entries satisfy ALL literals (one conjunction's
    restriction on this column) — reference P12 ``eval_operator``/``query``.

    Evaluated on the driver with ``pyarrow.dataset``, starting no Spark
    job: the conjunction is one arrow filter on ``value``, pushed into
    row-group statistics, and only the matching rows' ``partitions`` are
    read. Pruning stays a superset of the scan filter: a literal whose
    Spark value is not shown exact does not prune, and on float columns a
    NaN value is always kept."""
    dt, vtype = _value_types(manifest, column)
    expr = _conjunction_filter(dt, vtype, literals)
    hits = _index_dataset(manifest, column).to_table(columns=["partitions"], filter=expr).column("partitions")
    return set(pc.unique(pc.list_flatten(hits)).to_pylist())


def filter_indices(
    spark: SparkSession,
    manifest: "DatasetManifest",
    column: str,
    keep_labels: Sequence[str],
) -> DataFrame:
    """Index restricted to a partition subset (reference X3
    ``filter_indices``, core/index.py:843-874) — values whose partition
    list becomes empty are dropped."""
    keep = [(lbl,) for lbl in keep_labels]
    keep_df = spark.createDataFrame(keep, "__ktk_label string")
    return (
        index_as_dataframe(spark, manifest, column)
        .withColumnRenamed("label", "__ktk_label")
        .join(F.broadcast(keep_df), "__ktk_label")
        .groupBy("value")
        .agg(F.collect_set("__ktk_label").alias("partitions"))
    )


def index_as_dataframe(spark: SparkSession, manifest: "DatasetManifest", column: str) -> DataFrame:
    """Flattened (value, label) view — reference ``as_flat_series``."""
    return load_index(spark, manifest, column).select(
        F.col("value"), F.explode("partitions").alias("label")
    )


__all__ = [
    "build_index",
    "filter_indices",
    "flatten_index",
    "index_as_dataframe",
    "index_values_by_label",
    "load_index",
    "query_index_labels",
    "update_index",
    "write_index",
]
