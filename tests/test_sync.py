"""Incremental derived-dataset sync (CDC consumer of the snapshot
history): appends flow through transform incrementally; source partition
drops trigger a correct full refresh; the cursor makes re-runs no-ops."""

import os

import pytest
from pyspark.sql import functions as F

from kartothek_spark.dataset.read import read_table
from kartothek_spark.dataset.sync import sync_derived_dataset
from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset

from tests.conftest import SF_DIR


def _customer(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))


def _transform(df):
    return df.where(F.col("c_acctbal") > 0).select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )


def _expected(spark, where):
    return _transform(_customer(spark).where(where))


def test_sync_lifecycle(spark, tmp_root):
    cust = _customer(spark)
    store_dataframe_as_dataset(
        spark, cust.where("c_nationkey < 15"), tmp_root, "src",
        partition_on=["c_nationkey"], keep_history=True,
    )
    r1 = sync_derived_dataset(spark, tmp_root, "src", tmp_root, "dst", _transform)
    assert r1["mode"] == "initial"
    got = read_table(spark, tmp_root, "dst")
    assert got.count() == _expected(spark, "c_nationkey < 15").count()

    # append → incremental: only new rows processed
    update_dataset(spark, cust.where("c_nationkey >= 15"), tmp_root, "src")
    r2 = sync_derived_dataset(spark, tmp_root, "src", tmp_root, "dst", _transform)
    assert r2["mode"] == "incremental"
    assert r2["rows_processed"] == _expected(spark, "c_nationkey >= 15").count()
    got = read_table(spark, tmp_root, "dst")
    exp = _expected(spark, "TRUE")
    assert got.count() == exp.count()
    assert (
        got.agg(F.sum("c_custkey")).first()[0] == exp.agg(F.sum("c_custkey")).first()[0]
    )

    # re-run with no source change → noop
    assert sync_derived_dataset(spark, tmp_root, "src", tmp_root, "dst", _transform)["mode"] == "noop"

    # source partition drop → refresh, content still exact
    update_dataset(spark, None, tmp_root, "src", delete_scope=[{"c_nationkey": 3}])
    r4 = sync_derived_dataset(spark, tmp_root, "src", tmp_root, "dst", _transform)
    assert r4["mode"] == "refresh"
    got = read_table(spark, tmp_root, "dst")
    exp = _expected(spark, "c_nationkey <> 3")
    assert got.count() == exp.count()
    assert (
        got.agg(F.sum("c_custkey")).first()[0] == exp.agg(F.sum("c_custkey")).first()[0]
    )


def test_sync_guards(spark, tmp_root):
    cust = _customer(spark)
    # no history on the source → refuse
    store_dataframe_as_dataset(spark, cust, tmp_root, "nohist")
    with pytest.raises(ValueError, match="keep_history"):
        sync_derived_dataset(spark, tmp_root, "nohist", tmp_root, "d1")
    # an unrelated existing dataset is not a silent sync target
    store_dataframe_as_dataset(
        spark, cust, tmp_root, "src2", keep_history=True
    )
    store_dataframe_as_dataset(spark, cust, tmp_root, "not_a_target")
    with pytest.raises(ValueError, match="not a sync target"):
        sync_derived_dataset(spark, tmp_root, "src2", tmp_root, "not_a_target")


def test_sync_aggregate_dataset_incremental(spark, tmp_root):
    """Materialized groupBy view: after two appends the view equals a
    full recompute, the second sync runs incrementally, and partitions
    whose groups were untouched keep their exact file labels."""
    import os

    from pyspark.sql import functions as F

    from kartothek_spark.core.manifest import DatasetManifest
    from kartothek_spark.dataset.read import read_table
    from kartothek_spark.dataset.sync import sync_aggregate_dataset
    from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset
    from tests.conftest import SF_DIR

    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    b1 = orders.where(F.col("o_orderkey") % 3 != 0)
    b2 = orders.where((F.col("o_orderkey") % 3 == 0) & (F.col("o_orderpriority") == "1-URGENT"))

    store_dataframe_as_dataset(spark, b1, tmp_root, "src", keep_history=True)
    aggs = [
        ("n_orders", "count", "*"),
        ("total_price", "sum", "o_totalprice"),
        ("max_price", "max", "o_totalprice"),
    ]
    r1 = sync_aggregate_dataset(
        spark, tmp_root, "src", tmp_root, "view",
        group_by=["o_orderpriority", "o_orderstatus"], aggs=aggs,
    )
    assert r1["mode"] == "initial"
    before = set(DatasetManifest.load(tmp_root, "view").partitions)

    update_dataset(spark, b2, tmp_root, "src")
    r2 = sync_aggregate_dataset(
        spark, tmp_root, "src", tmp_root, "view",
        group_by=["o_orderpriority", "o_orderstatus"], aggs=aggs,
    )
    assert r2["mode"] == "incremental"
    after = set(DatasetManifest.load(tmp_root, "view").partitions)

    # untouched priorities keep their exact files; 1-URGENT was rewritten
    untouched = {p for p in before if "1-URGENT" not in p}
    assert untouched <= after
    assert {p for p in before if "1-URGENT" in p}.isdisjoint(after)

    got = read_table(spark, tmp_root, "view")
    want = (
        b1.unionByName(b2)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_totalprice").alias("total_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )
    g = {tuple(r) for r in got.withColumn("total_price", F.round("total_price", 4)).collect()}
    w = {tuple(r) for r in want.withColumn("total_price", F.round("total_price", 4)).collect()}
    assert g == w

    r3 = sync_aggregate_dataset(
        spark, tmp_root, "src", tmp_root, "view",
        group_by=["o_orderpriority", "o_orderstatus"], aggs=aggs,
    )
    assert r3["mode"] == "noop"


def test_sync_aggregate_refresh_on_drop(spark, tmp_root):
    import os

    from pyspark.sql import functions as F

    from kartothek_spark.dataset.read import read_table
    from kartothek_spark.dataset.sync import sync_aggregate_dataset
    from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset
    from tests.conftest import SF_DIR

    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    store_dataframe_as_dataset(
        spark, orders, tmp_root, "src", partition_on=["o_orderstatus"], keep_history=True
    )
    aggs = [("n", "count", "*")]
    sync_aggregate_dataset(
        spark, tmp_root, "src", tmp_root, "view", group_by=["o_orderpriority"], aggs=aggs
    )
    update_dataset(spark, None, tmp_root, "src", delete_scope=[{"o_orderstatus": "F"}])
    r = sync_aggregate_dataset(
        spark, tmp_root, "src", tmp_root, "view", group_by=["o_orderpriority"], aggs=aggs
    )
    assert r["mode"] == "refresh"
    live = read_table(spark, tmp_root, "src")
    got = {(r.o_orderpriority, r.n) for r in read_table(spark, tmp_root, "view").collect()}
    want = {
        (r.o_orderpriority, r.n)
        for r in live.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_stream_aggregate_view_matches_batch(spark, tmp_path):
    """Replay events as a 3-file stream into a materialized per-type
    view; after the stream drains the view equals the batch groupBy."""
    import os

    from pyspark.sql import functions as F

    from kartothek_spark.dataset.read import read_table
    from kartothek_spark.streaming.update import stream_aggregate_view
    from tests.conftest import SF_DIR

    ev = (
        spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
        .where(F.col("user_id") < 100)
        .select("event_type", "user_id", "value")
        .localCheckpoint(eager=True)
    )
    src = str(tmp_path / "src")
    ev.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    root = str(tmp_path / "store")
    q = stream_aggregate_view(
        stream, root, "events_src", "events_view",
        group_by=["event_type"],
        aggs=[("n", "count", "*"), ("users_max", "max", "user_id")],
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(180)
    got = {(r.event_type, r.n, r.users_max)
           for r in read_table(spark, root, "events_view").collect()}
    want = {(r.event_type, r.n, r.users_max)
            for r in ev.groupBy("event_type").agg(
                F.count("*").alias("n"), F.max("user_id").alias("users_max")).collect()}
    assert got == want


def test_stream_text_index_matches_batch(spark, tmp_path):
    """Streaming index maintenance (build on batch 0, O(batch) syncs
    after) must converge to EXACTLY the on-the-fly BM25 over everything
    ingested — postings, N, and avgdl all advanced per micro-batch."""
    import os

    from kartothek_spark.operators.search import bm25_search
    from kartothek_spark.operators.search_index import search_text_index
    from kartothek_spark.streaming.update import stream_text_index
    from tests.conftest import SF_DIR

    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .where(F.col("doc_id") < 120)
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    root = str(tmp_path / "store")
    q = stream_text_index(
        stream, root, "tidx", buckets=4,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    assert q.awaitTermination(180), "stream did not drain"
    terms = ["spark", "table", "join"]
    got = [
        tuple(r)
        for r in search_text_index(spark, root, "tidx", terms, k=30).collect()
    ]
    want = [tuple(r) for r in bm25_search(docs, terms, k=30).collect()]
    assert got == want


def test_stream_fuzzy_index_matches_batch(spark, tmp_path):
    """Streaming fuzzy-index maintenance (build on batch 0, O(new keys)
    syncs after) must answer lookups EXACTLY like the on-the-fly
    fuzzy_join over everything ingested."""
    import os

    from kartothek_spark.operators.dedup import fuzzy_join
    from kartothek_spark.operators.fuzzy_index import search_fuzzy_index
    from kartothek_spark.streaming.update import stream_fuzzy_index
    from tests.conftest import SF_DIR

    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .where(F.col("doc_id") < 120)
        .select("doc_id", F.expr("substring(text, 1, 20)").alias("key"))
        .localCheckpoint(eager=True)
    )
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    root = str(tmp_path / "store")
    q = stream_fuzzy_index(
        stream, root, "fidx", string_col="key", max_dist=2, buckets=4,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    assert q.awaitTermination(180), "stream did not drain"

    probes = docs.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("probe_id"),
        F.expr("concat(substring(key, 1, 8), substring(key, 10, 11))").alias("qkey"),
    )
    got = sorted(
        tuple(r)
        for r in search_fuzzy_index(
            spark, root, "fidx", probes, probe_key="qkey", probe_id="probe_id",
            corpus=docs, corpus_key="key", corpus_id="doc_id",
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in fuzzy_join(
            docs, probes, max_dist=2, left_on="key", right_on="qkey",
            left_id="doc_id", right_id="probe_id",
        ).collect()
    )
    assert got == want and got


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _pin_derived(spark, root):
    """(sync, destination rows, rows recomputed from the source)"""
    return (
        lambda: sync_derived_dataset(spark, root, "src", root, "dst", _transform),
        lambda: _sorted_rows(read_table(spark, root, "dst")),
        lambda: _sorted_rows(_transform(read_table(spark, root, "src"))),
    )


def _pin_aggregate(spark, root):
    from kartothek_spark.dataset.sync import sync_aggregate_dataset

    aggs = [("n", "count", "*"), ("keys", "sum", "c_custkey")]
    return (
        lambda: sync_aggregate_dataset(
            spark, root, "src", root, "view", group_by=["c_mktsegment"], aggs=aggs
        ),
        lambda: _sorted_rows(
            read_table(spark, root, "view").select("c_mktsegment", "n", "keys")
        ),
        lambda: _sorted_rows(
            read_table(spark, root, "src").groupBy("c_mktsegment").agg(
                F.count("*").alias("n"), F.sum("c_custkey").alias("keys")
            )
        ),
    )


@pytest.mark.parametrize("case", [_pin_derived, _pin_aggregate], ids=["derived", "aggregate"])
def test_sync_pins_source_snapshot(spark, tmp_root, monkeypatch, case):
    """An append that commits right after a sync loaded the source manifest
    belongs to the NEXT sync: every read of a sync comes from the snapshot
    whose version its cursor records. A sync that read the live source
    instead would process the append now and again next time, so after
    the next sync the destination would differ from a full recompute."""
    from kartothek_spark.core.manifest import DatasetManifest

    sync, got, recomputed = case(spark, tmp_root)
    batch = [_customer(spark).where(F.col("c_custkey") % 3 == i) for i in range(3)]
    store_dataframe_as_dataset(spark, batch[0], tmp_root, "src", keep_history=True)
    assert sync()["mode"] == "initial"
    update_dataset(spark, batch[1], tmp_root, "src")

    real_load = DatasetManifest.load.__func__
    loaded = []

    def load(cls, root, uuid, version=None):
        m = real_load(cls, root, uuid, version)
        if not loaded and (root, uuid, version) == (tmp_root, "src", None):
            loaded.append(m.version)
            update_dataset(spark, batch[2], tmp_root, "src")
        return m

    monkeypatch.setattr(DatasetManifest, "load", classmethod(load))
    first = sync()
    monkeypatch.undo()
    # the append landed between the sync's source load and its reads
    assert loaded == [first["src_version"]]
    assert DatasetManifest.load(tmp_root, "src").version == loaded[0] + 1
    assert first["mode"] == "incremental"
    assert sync()["mode"] == "incremental"
    assert got() == recomputed()
