"""End-to-end slice (SURVEY §7.2): write partitioned dataset → manifest →
pruned read with DNF predicates → values match a direct-filter oracle."""

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kartothek_spark.core.manifest import DatasetManifest
from kartothek_spark.dataset.read import dispatch_labels, read_table
from kartothek_spark.dataset.write import (
    garbage_collect_dataset,
    store_dataframe_as_dataset,
    update_dataset,
)


@pytest.fixture()
def fixture_df(spark):
    rows = [
        Row(P=p, L=l, TARGET=p, DATE=datetime.date(2009, 12, 31) if p % 2 else datetime.date(2010, 1, 1))
        for p in range(1, 5)
        for l in range(1, 4)
    ]
    return spark.createDataFrame(rows)


def test_write_read_roundtrip(spark, tmp_root, fixture_df):
    m = store_dataframe_as_dataset(
        spark, fixture_df, tmp_root, "ds", partition_on=["P"], secondary_indices=["L"]
    )
    assert DatasetManifest.exists(tmp_root, "ds")
    assert len(m.partitions) >= 4
    got = read_table(spark, tmp_root, "ds").orderBy("P", "L").collect()
    exp = fixture_df.orderBy("P", "L").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]


def test_partition_pruning(spark, tmp_root, fixture_df):
    store_dataframe_as_dataset(spark, fixture_df, tmp_root, "ds", partition_on=["P"])
    m = DatasetManifest.load(tmp_root, "ds")
    labels = dispatch_labels(spark, m, [[("P", "==", 2)]])
    assert labels and all(lbl.startswith("P=2/") for lbl in labels)
    got = read_table(spark, tmp_root, "ds", predicates=[[("P", "==", 2), ("L", ">", 1)]])
    assert {(r.P, r.L) for r in got.collect()} == {(2, 2), (2, 3)}


def test_secondary_index_pruning(spark, tmp_root, fixture_df):
    store_dataframe_as_dataset(
        spark, fixture_df, tmp_root, "ds", partition_on=["P"], secondary_indices=["TARGET"]
    )
    m = DatasetManifest.load(tmp_root, "ds")
    labels = dispatch_labels(spark, m, [[("TARGET", "==", 3)]])
    assert labels and all(lbl.startswith("P=3/") for lbl in labels)


def test_update_append_and_delete_scope(spark, tmp_root, fixture_df):
    store_dataframe_as_dataset(
        spark, fixture_df, tmp_root, "ds", partition_on=["P"], secondary_indices=["L"]
    )
    new = fixture_df.where(F.col("P") == 1).withColumn("TARGET", F.lit(99))
    update_dataset(spark, new, tmp_root, "ds", delete_scope=[{"P": 1}])
    got = read_table(spark, tmp_root, "ds", predicates=[[("P", "==", 1)]])
    assert {r.TARGET for r in got.collect()} == {99}
    # index maintenance: pruning via L still correct after update
    m = DatasetManifest.load(tmp_root, "ds")
    labels = dispatch_labels(spark, m, [[("L", "==", 2)]])
    got2 = read_table(spark, tmp_root, "ds", predicates=[[("L", "==", 2)]])
    assert got2.count() == 4  # one row per P


def test_gc_removes_orphans(spark, tmp_root, fixture_df):
    store_dataframe_as_dataset(
        spark, fixture_df, tmp_root, "ds", partition_on=["P"], secondary_indices=["L"]
    )
    update_dataset(spark, None, tmp_root, "ds", delete_scope=[{"P": 4}])
    deleted = garbage_collect_dataset(tmp_root, "ds")
    assert deleted  # dropped partition files + old index version
    # dataset still reads fine afterwards
    assert read_table(spark, tmp_root, "ds").count() == 9


def test_empty_result_schema(spark, tmp_root, fixture_df):
    store_dataframe_as_dataset(spark, fixture_df, tmp_root, "ds", partition_on=["P"])
    got = read_table(spark, tmp_root, "ds", predicates=[[("P", "==", 999)]])
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["P", "L", "TARGET", "DATE"]


def test_bucket_pruning(spark, tmp_root):
    import os

    from kartothek_spark.core.manifest import DatasetManifest
    from kartothek_spark.dataset.read import dispatch_labels, read_table
    from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset
    from tests.conftest import SF_DIR

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    store_dataframe_as_dataset(
        spark, li, tmp_root, "lb",
        partition_on=["l_returnflag"], bucket_by=["l_orderkey"], num_buckets=4,
    )
    m = DatasetManifest.load(tmp_root, "lb")
    assert m.num_buckets == 4 and m.bucket_by == ["l_orderkey"]
    all_labels = set(m.partitions)
    # equality on the bucket column prunes to <= 1 bucket per partition value
    pruned = dispatch_labels(spark, m, [[("l_orderkey", "==", 7)]])
    assert 0 < len(pruned) <= len(all_labels) // 4 + 1

    got = read_table(spark, tmp_root, "lb", predicates=[[("l_orderkey", "==", 7)]])
    want = li.where("l_orderkey = 7")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.select(*got.columns).collect())
    )
    # non-equality predicates must NOT bucket-prune
    assert set(dispatch_labels(spark, m, [[("l_orderkey", ">", 0)]])) == all_labels

    # appends keep the bucket layout (update path reuses the spec)
    update_dataset(spark, li.limit(50), tmp_root, "lb")
    got2 = read_table(spark, tmp_root, "lb", predicates=[[("l_orderkey", "==", 7)]])
    n_dup = li.limit(50).where("l_orderkey = 7").count()
    assert got2.count() == want.count() + n_dup

    # full unpredicated roundtrip still matches (bucket col never leaks)
    full = read_table(spark, tmp_root, "lb")
    assert set(full.columns) == set(li.columns)


def test_decimal_partition_key_predicates(spark, tmp_root):
    """Decimal partition keys decode to ``Decimal``: an equal literal of
    any scale finds the ``d=1.50`` directory, and a range literal compares
    (it used to meet the key as a string and raise TypeError)."""
    from decimal import Decimal

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("d", T.DecimalType(10, 2)), T.StructField("v", T.LongType())]
    )
    rows = [(Decimal("1.50"), 1), (Decimal("2.00"), 2), (Decimal("3.25"), 3), (Decimal("-4.00"), 4)]
    store_dataframe_as_dataset(
        spark, spark.createDataFrame(rows, schema), tmp_root, "dec", partition_on=["d"]
    )

    def vs(preds):
        return sorted(r.v for r in read_table(spark, tmp_root, "dec", predicates=preds).collect())

    assert vs([[("d", "==", Decimal("1.50"))]]) == [1]
    assert vs([[("d", "==", Decimal("1.5"))]]) == [1]
    assert vs([[("d", "in", [Decimal("1.5"), Decimal("-4")])]]) == [1, 4]
    assert vs([[("d", ">", Decimal("2.00"))]]) == [3]
    assert vs([[("d", "<=", Decimal("2"))], [("d", "==", Decimal("3.250"))]]) == [1, 2, 3, 4]
    m = DatasetManifest.load(tmp_root, "dec")
    assert len(m.query(predicates=[[("d", "==", Decimal("1.5"))]])) == 1


def test_decimal_stats_column_is_never_used_to_skip(spark, tmp_root):
    """``stats_columns`` naming a decimal column: pyarrow cannot decode the
    statistics Spark writes for it, so the column gets no stats (and skips
    no file) instead of failing the write."""
    from decimal import Decimal

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("m", T.DecimalType(10, 2)), T.StructField("v", T.LongType())]
    )
    rows = [(Decimal(i) / 4, i) for i in range(40)]
    store_dataframe_as_dataset(
        spark, spark.createDataFrame(rows, schema).repartition(4), tmp_root, "decstats",
        stats_columns=["m", "v"],
    )
    m = DatasetManifest.load(tmp_root, "decstats")
    assert all("m" not in e.get("stats", {}) and "v" in e["stats"] for e in m.partitions.values())
    got = read_table(spark, tmp_root, "decstats", predicates=[[("m", ">", Decimal("7.50"))]])
    assert sorted(r.v for r in got.collect()) == list(range(31, 40))
