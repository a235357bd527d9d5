"""The former Spark maintenance of the secondary index, kept verbatim as
the oracle of the driver-side merge in ``kartothek_spark.core.index``: a
broadcast-joined scan of the new files, then a ``groupBy`` /
``collect_set`` shuffle and a Spark write of the new index version."""

from __future__ import annotations

import os
from typing import TYPE_CHECKING, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kartothek_spark.core.index import _index_path, load_index
from kartothek_spark.core.urlencode import decode_file_uri_column

if TYPE_CHECKING:
    from kartothek_spark.core.manifest import DatasetManifest




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
