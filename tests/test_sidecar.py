"""Partition-list parquet sidecar (Delta checkpoint analog): promotion at
the threshold, exact roundtrip, lifecycle (mutations, history, expire, GC)."""

import json
import os

import pytest
from pyspark.sql import functions as F

import kartothek_spark.core.manifest as manifest_mod
from kartothek_spark.core.manifest import DatasetManifest, SIDECAR_DIR
from kartothek_spark.dataset.read import dispatch_labels, read_table
from kartothek_spark.dataset.write import (
    expire_snapshots,
    garbage_collect_dataset,
    store_dataframe_as_dataset,
    update_dataset,
)

from tests.conftest import SF_DIR


@pytest.fixture()
def low_threshold(monkeypatch):
    monkeypatch.setattr(manifest_mod, "SIDECAR_THRESHOLD", 3)


def _store(spark, root, uuid, **kw):
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet")).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    return store_dataframe_as_dataset(
        spark, orders, root, uuid, partition_on=["o_orderstatus"],
        stats_columns=["o_totalprice"], **kw
    ), orders


def _live_ref(root, uuid):
    return DatasetManifest._load_raw_dict(root, uuid)[0]["partitions_ref"]


def test_sidecar_promotion_and_roundtrip(spark, tmp_path, low_threshold):
    root = str(tmp_path)
    m, orders = _store(spark, root, "sc")
    assert m.partitions_sidecar and len(m.partitions) >= 3

    # the manifest JSON holds a pointer, not the partition map
    with open(os.path.join(root, "sc.by-dataset-metadata.json")) as fh:
        d = json.load(fh)
    assert "partitions" not in d
    assert d["n_partitions"] == len(m.partitions)
    assert os.path.exists(os.path.join(root, d["partitions_ref"]))
    assert os.path.basename(d["partitions_ref"]).startswith("_partitions_v")

    # exact roundtrip including rows + stats entries
    m2 = DatasetManifest.load(root, "sc")
    assert m2.partitions == m.partitions
    assert m2.partitions_sidecar

    # reads and planning are unaffected
    labels = dispatch_labels(spark, m2, [[("o_orderstatus", "==", "F")]])
    assert labels and all(l.startswith("o_orderstatus=F") for l in labels)
    got = read_table(spark, root, "sc", predicates=[[("o_orderstatus", "==", "F")]])
    assert got.count() == orders.where("o_orderstatus = 'F'").count()


def test_sidecar_corruption_detected(spark, tmp_path, low_threshold):
    root = str(tmp_path)
    _store(spark, root, "sc")
    with open(os.path.join(root, "sc.by-dataset-metadata.json")) as fh:
        d = json.load(fh)
    d["n_partitions"] += 1
    with open(os.path.join(root, "sc.by-dataset-metadata.json"), "w") as fh:
        json.dump(d, fh)
    with pytest.raises(ValueError, match="sidecar"):
        DatasetManifest.load(root, "sc")


def test_sidecar_mutation_supersedes_and_gc_keeps(spark, tmp_path, low_threshold):
    root = str(tmp_path)
    m, orders = _store(spark, root, "sc")
    v1_ref = m._sidecar_ref
    extra = orders.limit(5).withColumn("o_orderstatus", F.lit("X"))
    update_dataset(spark, extra, root, "sc")
    m2 = DatasetManifest.load(root, "sc")
    assert "o_orderstatus=X" in " ".join(m2.partitions)
    # without history the superseded sidecar is cleaned by the commit
    sdir = os.path.join(root, "sc", SIDECAR_DIR)
    names = sorted(os.listdir(sdir))
    assert names == [os.path.basename(_live_ref(root, "sc"))]
    assert os.path.basename(v1_ref) not in names
    # GC never touches the live sidecar (underscore bookkeeping rule)
    garbage_collect_dataset(root, "sc")
    assert sorted(os.listdir(sdir)) == names
    assert read_table(spark, root, "sc").count() == orders.count() + 5


def test_sidecar_history_time_travel_and_expire(spark, tmp_path, low_threshold):
    root = str(tmp_path)
    m, orders = _store(spark, root, "hist", keep_history=True)
    v1 = m.version
    extra = orders.limit(3).withColumn("o_orderstatus", F.lit("X"))
    update_dataset(spark, extra, root, "hist")
    live = DatasetManifest.load(root, "hist")
    # time travel to v1 loads v1's own sidecar
    old = DatasetManifest.load(root, "hist", version=v1)
    assert old.partitions == m.partitions
    assert len(live.partitions) > len(old.partitions)
    sdir = os.path.join(root, "hist", SIDECAR_DIR)
    assert len(os.listdir(sdir)) == 2  # both versions retained
    # expiring v1 removes its sidecar, keeps the live one
    assert expire_snapshots(root, "hist", keep_last=1) == [v1]
    assert sorted(os.listdir(sdir)) == [os.path.basename(_live_ref(root, "hist"))]
    with pytest.raises(ValueError, match="no snapshot"):
        DatasetManifest.load(root, "hist", version=v1)
    assert read_table(spark, root, "hist").count() == orders.count() + 3


def test_inline_below_threshold(spark, tmp_path):
    root = str(tmp_path)
    m, _ = _store(spark, root, "small")
    assert not m.partitions_sidecar
    with open(os.path.join(root, "small.by-dataset-metadata.json")) as fh:
        d = json.load(fh)
    assert "partitions_ref" not in d and "partitions" in d
