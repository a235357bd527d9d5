"""Secondary inverted indices as Parquet-backed DataFrames.

Parity target: ``ExplicitSecondaryIndex`` (``kartothek/core/index.py:43-955``
in /root/reference) — ``Map[value → List[partition_label]]`` persisted as its
own Parquet file, used at plan time to prune the file list *before* any data
is read. Spark-first realization:

* build = one distributed job: ``groupBy(value).agg(collect_set(label))``
  (map-side partial aggregation → a single shuffle on the indexed column);
* store = a Parquet table ``(value, partitions: array<string>)`` under
  ``<uuid>/indices/<col>/<version>.by-dataset-index.parquet``;
* query = evaluate the DNF conjunction on the driver with ``pyarrow.dataset``
  (as the reference loads its indices with pyarrow): the literals become one
  arrow filter on ``value``, pushed into row-group statistics, and only the
  ``partitions`` of matching rows are read — no Spark job. Driver memory is
  bounded by the matching rows, the same bound as collecting the labels of
  a distributed filter;
* maintenance = anti-join removed labels / union new pairs, copy-on-write
  to a new index file; the manifest pointer swap publishes it.
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
from typing import TYPE_CHECKING, Any, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kartothek_spark.core.urlencode import decode_file_uri_column

if TYPE_CHECKING:
    from kartothek_spark.core.manifest import DatasetManifest

INDEX_SUFFIX = ".by-dataset-index.parquet"


def _file_label_df(spark: SparkSession, manifest: "DatasetManifest", labels: Sequence[str] | None = None) -> DataFrame:
    """Tiny (file_uri → label) mapping, broadcast into the index job."""
    labels = list(manifest.partitions) if labels is None else list(labels)
    rows = [(os.path.abspath(manifest.file_path(lbl)), lbl) for lbl in labels]
    return spark.createDataFrame(rows, "file_path string, __ktk_label string")


def _pairs_df(spark: SparkSession, manifest: "DatasetManifest", column: str, labels: Sequence[str] | None = None) -> DataFrame:
    """(value, label) pairs for an indexed column over the given partitions."""
    labels = list(manifest.partitions) if labels is None else list(labels)
    if not labels:
        field = next(f for f in manifest.schema.fields if f.name == column)
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [], T.StructType([field, T.StructField("__ktk_label", T.StringType())])
        )
    if column in manifest.partition_keys:
        # partition-key index needs no data read: values come from labels
        rows = [(manifest.partition_values(lbl)[column], lbl) for lbl in labels]
        from pyspark.sql import types as T

        field = next(f for f in manifest.schema.fields if f.name == column)
        return spark.createDataFrame(
            rows, T.StructType([field, T.StructField("__ktk_label", T.StringType())])
        )
    mapping = _file_label_df(spark, manifest, labels)

    # the format-dispatched manifest scan (explicit schema: files from
    # before a schema evolution may lack the indexed column entirely —
    # they read as NULL and the isNotNull below keeps them out of the
    # index, matching reference build_indices dropna semantics). Function
    # -level import: read.py imports this module at its top level.
    from kartothek_spark.dataset.read import _scan_files

    df = (
        _scan_files(spark, manifest, manifest.files(labels))
        .select(
            F.col(column),
            # input_file_name() yields a percent-encoded file:///… URI —
            # decode to the on-disk path so it joins against the manifest
            # mapping even when partition values contain ':'/' '/'%'
            decode_file_uri_column(F.input_file_name()).alias("file_path"),
        )
        .where(F.col(column).isNotNull())
    )
    return (
        df.join(F.broadcast(mapping), "file_path")
        .select(column, "__ktk_label")
    )


def _index_path(manifest: "DatasetManifest", column: str) -> str:
    version = _uuid.uuid4().hex[:12]
    return os.path.join(manifest.dataset_uuid, "indices", column, version + INDEX_SUFFIX)


def _write_index(pairs: DataFrame, manifest: "DatasetManifest", column: str) -> str:
    rel = _index_path(manifest, column)
    out = (
        pairs.groupBy(column)
        .agg(F.collect_set("__ktk_label").alias("partitions"))
        .withColumnRenamed(column, "value")
    )
    out.write.mode("overwrite").parquet("file:" + os.path.abspath(os.path.join(manifest.root, rel)))
    return rel


def build_index(spark: SparkSession, manifest: "DatasetManifest", column: str) -> str:
    """Full (re)build — reference X5 ``build_dataset_indices``."""
    return _write_index(_pairs_df(spark, manifest, column), manifest, column)


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
    remove_partitions``): explode old index, drop removed labels, union new
    pairs, re-group, write a new version (copy-on-write)."""
    old = (
        load_index(spark, manifest, column)
        .select(F.col("value").alias(column), F.explode("partitions").alias("__ktk_label"))
    )
    if removed_labels:
        old = old.where(~F.col("__ktk_label").isin(list(removed_labels)))
    pairs = old
    if new_labels:
        pairs = pairs.unionByName(_pairs_df(spark, manifest, column, new_labels))
    return _write_index(pairs, manifest, column)


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
    import pyarrow as pa
    import pyarrow.compute as pc

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
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_type

    dt = _index_schema(manifest, column)["value"].dataType
    vtype = to_arrow_type(dt)
    conds = [_literal_filter(dt, vtype, op, v) for (_c, op, v) in literals]
    conds = [c for c in conds if c is not None]
    expr = reduce(operator.and_, conds) if conds else None
    if expr is not None and isinstance(dt, (T.FloatType, T.DoubleType)):
        expr = expr | pc.is_nan(pc.field("value"))
    # Spark writes timestamps as INT96; read them at microseconds, Spark's
    # unit, and let the explicit schema cast them (and widened widths) as
    # the Spark read of load_index does
    fmt = ds.ParquetFileFormat(
        read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
    )
    index = ds.dataset(
        os.path.join(manifest.root, manifest.indices[column]),
        schema=pa.schema([("value", vtype), ("partitions", pa.list_(pa.string()))]),
        format=fmt,
    )
    hits = index.to_table(columns=["partitions"], filter=expr).column("partitions")
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
    "index_as_dataframe",
    "load_index",
    "query_index_labels",
    "update_index",
]
