"""Regression tests for driver-side predicate coercion, URI-encoded path
joins, outer-join predicate semantics, and CLI literal coercion."""

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kartothek_spark.dataset.merge import merge_datasets
from kartothek_spark.dataset.read import read_table
from kartothek_spark.dataset.write import store_dataframe_as_dataset


@pytest.fixture()
def dated_df(spark):
    rows = [
        Row(d=datetime.date(2024, 1, day), L=l, V=float(day * 10 + l))
        for day in (1, 2, 3)
        for l in (1, 2)
    ]
    return spark.createDataFrame(rows)


def test_date_string_literal_on_date_partition(spark, tmp_root, dated_df):
    """ISO-string literals against a date partition key must prune AND
    match — not silently return empty (str vs datetime.date driver-side)."""
    store_dataframe_as_dataset(spark, dated_df, tmp_root, "ds", partition_on=["d"])
    got = read_table(spark, tmp_root, "ds", predicates=[[("d", "==", "2024-01-02")]])
    assert sorted((r.d, r.L) for r in got.collect()) == [
        (datetime.date(2024, 1, 2), 1),
        (datetime.date(2024, 1, 2), 2),
    ]
    # range op on a string literal must not raise TypeError driver-side
    got = read_table(spark, tmp_root, "ds", predicates=[[("d", ">", "2024-01-02")]])
    assert {r.d for r in got.collect()} == {datetime.date(2024, 1, 3)}
    # 'in' lists are coerced element-wise
    got = read_table(
        spark, tmp_root, "ds", predicates=[[("d", "in", ["2024-01-01", "2024-01-03"])]]
    )
    assert {r.d for r in got.collect()} == {
        datetime.date(2024, 1, 1),
        datetime.date(2024, 1, 3),
    }


def test_timestamp_string_literal_on_timestamp_partition(spark, tmp_root):
    rows = [
        Row(ts=datetime.datetime(2024, 1, 1, h, 30), L=l)
        for h in (0, 1)
        for l in (1, 2)
    ]
    df = spark.createDataFrame(rows)
    store_dataframe_as_dataset(spark, df, tmp_root, "ds", partition_on=["ts"])
    got = read_table(
        spark, tmp_root, "ds", predicates=[[("ts", "==", "2024-01-01 01:30:00")]]
    )
    assert sorted(r.L for r in got.collect()) == [1, 2]


def test_int_literal_against_double_column(spark, tmp_root, dated_df):
    """int literals widen to float against double columns (CLI parse path)."""
    store_dataframe_as_dataset(spark, dated_df, tmp_root, "ds", partition_on=["d"])
    got = read_table(spark, tmp_root, "ds", predicates=[[("V", ">", 25)]])
    want = read_table(spark, tmp_root, "ds", predicates=[[("V", ">", 25.0)]])
    assert sorted(r.V for r in got.collect()) == sorted(r.V for r in want.collect())
    assert got.count() > 0


def test_condition_dsl_int_literal_on_double(spark, tmp_root, dated_df):
    from kartothek_spark.core.conditions import parse_conjunction

    store_dataframe_as_dataset(spark, dated_df, tmp_root, "ds", partition_on=["d"])
    preds = parse_conjunction("V > 25").predicate
    got = read_table(spark, tmp_root, "ds", predicates=preds)
    assert got.count() == dated_df.where(F.col("V") > 25).count()


def test_index_complete_with_uri_special_partition_values(spark, tmp_root):
    """Secondary index build joins input_file_name() against manifest paths;
    partition values with ':' / ' ' / '%' must not drop rows from the index."""
    rows = [
        Row(P=p, L=l, V=float(l))
        for p in ("2024-01-01 10:30:00", "a b", "50%off", "plain")
        for l in (1, 2, 3)
    ]
    df = spark.createDataFrame(rows)
    store_dataframe_as_dataset(
        spark, df, tmp_root, "ds", partition_on=["P"], secondary_indices=["L"]
    )
    # every partition must appear in the index for L=2 — an under-inclusive
    # index silently drops files at read time
    got = read_table(spark, tmp_root, "ds", predicates=[[("L", "==", 2)]])
    assert sorted(r.P for r in got.collect()) == sorted(
        ["2024-01-01 10:30:00", "a b", "50%off", "plain"]
    )


def test_cube_lineage_with_uri_special_partition_values(spark, tmp_root):
    """Last-wins dedup lineage joins _metadata.file_path against manifest
    paths — URI-encoded partition values must not corrupt the ordinals."""
    from kartothek_spark.core.cube import Cube
    from kartothek_spark.cube.build import append_to_cube, build_cube
    from kartothek_spark.cube.query import query_cube

    seed = spark.createDataFrame(
        [Row(k=i, part="a b:c", x=i * 10) for i in range(1, 4)]
    )
    cube = Cube(
        dimension_columns=("k",), partition_columns=("part",), uuid_prefix="sp"
    )
    build_cube(spark, {"seed": seed}, cube, tmp_root)
    # overwrite k=2 via append: last write must win
    append_to_cube(
        spark,
        {"seed": spark.createDataFrame([Row(k=2, part="a b:c", x=999)])},
        cube,
        tmp_root,
    )
    got = {r.k: r.x for r in query_cube(spark, cube, tmp_root).collect()}
    assert got == {1: 10, 2: 999, 3: 30}


def test_merge_left_join_rejects_predicates_on_nullable_side(spark, tmp_root):
    facts = spark.createDataFrame([Row(L=l, V=float(l)) for l in (1, 2, 3)])
    dims = spark.createDataFrame([Row(L=1, name="dim1")])
    store_dataframe_as_dataset(spark, facts, tmp_root, "facts")
    store_dataframe_as_dataset(spark, dims, tmp_root, "dims")
    with pytest.raises(ValueError, match="nullable side"):
        merge_datasets(
            spark, tmp_root, "facts", "dims", on=["L"], how="left",
            predicates=[[("name", "==", "dim1")]],
        )
    # predicates on the preserved side are fine and keep unmatched rows
    out = merge_datasets(
        spark, tmp_root, "facts", "dims", on=["L"], how="left",
        predicates=[[("V", ">=", 2.0)]],
    )
    rows = sorted((r.L, r.name) for r in out.collect())
    assert rows == [(2, None), (3, None)]


def test_binary_percent_key_numeric_rendering(spark, tmp_path):
    """Percent-codec binary partition keys whose path rendering parses as
    a NUMBER or DATE (b'0102' -> dir '0102', b'2020-01-01') must come back
    byte-exact. Before the fix, _scan_files left partition keys out of
    the explicit scan schema, so hive type inference turned '0102' into
    int 102 — F.encode then yielded b'102', silently dropping the leading
    zero. The scan schema now pins partition columns (binary -> STRING)."""
    import os

    from kartothek_spark.core.manifest import DatasetManifest
    from kartothek_spark.dataset.interop import (
        export_kartothek_metadata,
        import_kartothek_dataset,
    )
    from kartothek_spark.dataset.read import dispatch_labels, read_table
    from kartothek_spark.dataset.write import store_dataframe_as_dataset

    root = str(tmp_path / "root")
    os.makedirs(root)
    values = [b"0102", b"7", b"2020-01-01", b"1e3"]
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(values)], "pk binary, v long"
    )
    store_dataframe_as_dataset(spark, df, root, "d", partition_on=["pk"])
    legacy = str(tmp_path / "legacy")
    export_kartothek_metadata(root, "d", legacy)
    m2 = import_kartothek_dataset(spark, root, "back", legacy, source_uuid="d")
    assert m2.binary_codec == "percent"

    def norm(rows):
        return sorted((bytes(r[0]), r[1]) for r in rows)

    want = norm([(v, i) for i, v in enumerate(values)])
    got = norm(read_table(spark, root, "back").select("pk", "v").collect())
    assert got == want

    # pruned point read on the numeric-looking key
    labels = dispatch_labels(
        spark, DatasetManifest.load(root, "back"), [[("pk", "==", b"0102")]]
    )
    assert len(labels) == 1
    got = read_table(
        spark, root, "back", predicates=[[("pk", "==", b"0102")]]
    ).collect()
    assert norm(got) == [(b"0102", 0)]


def test_stats_format_gates_null_count_skipping(spark):
    """Zero null counts are only trusted for IS-NULL / != / in-with-null
    file skipping at stats_format >= 2 — a legacy (format 1) collector
    recorded nulls=0 for footers that OMITTED null_count, so trusting it
    would silently skip files that do hold nulls."""
    from pyspark.sql import types as T

    from kartothek_spark.dataset.read import _stats_may_match

    by_name = {"c": T.LongType()}
    s_zero = {"c": {"min": 5, "max": 5, "nulls": 0}}
    s_unknown = {"c": {"min": 5, "max": 5}}

    # isnull: prune only under trusted zero
    assert _stats_may_match([("c", "isnull", None)], s_zero, by_name, True) is False
    assert _stats_may_match([("c", "isnull", None)], s_zero, by_name, False) is True
    assert _stats_may_match([("c", "isnull", None)], s_unknown, by_name, True) is True

    # != on a constant file: unknown null count can never skip
    lit = [("c", "!=", 5)]
    assert _stats_may_match(lit, s_zero, by_name, True) is False
    assert _stats_may_match(lit, s_zero, by_name, False) is True
    assert _stats_may_match(lit, s_unknown, by_name, True) is True

    # in_with_null: the null leg only drops under trusted zero
    lit = [("c", "in_with_null", [9])]
    assert _stats_may_match(lit, s_zero, by_name, True) is False
    assert _stats_may_match(lit, s_zero, by_name, False) is True


def test_stats_format_stamped_and_persisted(spark, tmp_root):
    """New writes collect stats under the omit-when-unknown convention and
    stamp stats_format=2 into the manifest (round-tripping through
    serialization); a manifest downgraded to format 1 keeps IS NULL
    queries from skipping files."""
    from kartothek_spark.core.manifest import DatasetManifest
    from kartothek_spark.dataset.read import dispatch_labels

    df = spark.createDataFrame([(1, 10), (2, None)], "k int, c int")
    store_dataframe_as_dataset(
        spark, df, tmp_root, "sf2", partition_on=["k"], stats_columns=["c"]
    )
    m = DatasetManifest.load(tmp_root, "sf2")
    assert m.stats_format == 2
    # k=1 file: c=[10,10], nulls=0 -> skipped for IS NULL at format 2
    labels = dispatch_labels(spark, m, [[("c", "==", None)]])
    assert len(labels) == 1 and "k=2" in labels[0]
    # legacy manifests (format 1) cannot skip on null counts
    m.stats_format = 1
    labels = dispatch_labels(spark, m, [[("c", "==", None)]])
    assert len(labels) == 2


def test_batch0_purge_refuses_foreign_dir(tmp_path):
    """stream_text_index's batch-0 recovery purge only deletes the
    engine's own layout; a target directory holding anything else errors
    instead of being recursively destroyed."""
    import os

    from kartothek_spark.streaming.update import _purge_uncommitted_dataset_dir

    root = str(tmp_path)
    os.makedirs(os.path.join(root, "idx", "table"))
    with open(os.path.join(root, "idx", "table", "p.parquet"), "w") as fh:
        fh.write("x")
    _purge_uncommitted_dataset_dir(root, "idx")  # engine layout: removed
    assert not os.path.exists(os.path.join(root, "idx"))

    os.makedirs(os.path.join(root, "users", "photos"))
    with pytest.raises(RuntimeError, match="refusing"):
        _purge_uncommitted_dataset_dir(root, "users")
    assert os.path.exists(os.path.join(root, "users", "photos"))

    _purge_uncommitted_dataset_dir(root, "never-existed")  # no-op


def test_minhash_cross_pairs_lazy_path_pins_nothing(spark):
    """minhash_cross_pairs(lifecycle="lazy") is the pin-free form: it
    must not persist() frames it has no path to unpersist (the leak would
    hold executor storage for the life of the session)."""
    import os

    from tests.conftest import SF_DIR

    from kartothek_spark.operators.dedup import minhash_cross_pairs

    spark.catalog.clearCache()
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    bench = docs.where("doc_id % 17 = 0").select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    # compare registered-RDD IDs as a DELTA: earlier tests' localCheckpoint
    # RDDs stay registered until a JVM GC unregisters them, so an absolute
    # zero-count assertion is flaky in a shared session
    ids = lambda: set(  # noqa: E731
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    before = ids()
    out = minhash_cross_pairs(docs, bench, right_id="bench_id", lifecycle="lazy")
    out.count()  # materialize through the lazy plan
    assert ids() == before  # the lazy path registered NO new pins


def test_scoped_release_parity_and_pin_lifecycle(spark):
    """lifecycle="scoped" (lazy with scoped release): same rows as the
    checkpoint form, pins held while the result frame is alive (so
    branches share one computation of the pinned base), and released when
    the result is garbage-collected — no storage leak, no eager job."""
    import gc
    import os

    from tests.conftest import SF_DIR

    from kartothek_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs

    spark.catalog.clearCache()
    gc.collect()
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    jmap = spark.sparkContext._jsc.getPersistentRDDs

    def rdd_ids():
        return set(jmap().keySet().toArray())

    for fn, kw in ((minhash_lsh_pairs, dict(threshold=0.2)),
                   (simhash_pairs, dict(max_hamming=6))):
        eager_rows = sorted(map(tuple, fn(docs, **kw).collect()))
        # the eager form's localCheckpoint RDD may stay registered until a
        # JVM GC unregisters it — compare pin IDs as a DELTA, not a count
        before = rdd_ids()
        lazy = fn(docs, lifecycle="scoped", **kw)
        gc.collect()  # intermediate frames of the operator are gone
        assert sorted(map(tuple, lazy.collect())) == eager_rows
        pins = rdd_ids() - before
        # the pinned base is registered while the result lives, and the
        # action read it from the cache
        assert pins, f"{fn.__name__}: pins released before the action"
        assert "InMemoryTableScan" in _executed(lazy)
        del lazy
        gc.collect()
        assert not (rdd_ids() & pins)


def _executed(frame):
    return frame._jdf.queryExecution().executedPlan().toString()


def _scoped_gates():
    """Every gate whose source passes ``lifecycle="scoped"`` or chains a
    ``release_on_gc`` — read from the gate sources, so a new scoped gate
    is covered without editing this list."""
    import inspect
    import re

    import __spark_entry__ as entrymod

    return sorted(
        name
        for name, fn in entrymod.queries().items()
        if re.search(r'lifecycle="scoped"|release_on_gc', inspect.getsource(fn))
    )


def test_scoped_gate_discovery_finds_known_gates():
    # guards the source scan: an empty parametrization would pass silently
    assert set(_scoped_gates()) >= {
        "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
        "dedup_containment", "dedup_winnow_pairs", "dedup_fuzzy_pairs",
        "corpus_fuzzy_join", "dedup_semdedup", "dedup_semdedup_diverse",
    }


@pytest.mark.parametrize("name", _scoped_gates())
def test_scoped_gate_pin_live_at_action(spark, name):
    """A gate on the scoped lifecycle must keep its pins registered until
    its action runs — even after a GC collects every intermediate frame
    (the derive-then-drop trap documented on release_on_gc) — read the
    pinned frames from the cache (InMemoryTableScan), and release the pins
    once the gate's frame is deleted."""
    import gc

    from tests.conftest import SF_DIR

    import __spark_entry__ as entrymod

    spark.catalog.clearCache()
    gc.collect()
    jmap = spark.sparkContext._jsc.getPersistentRDDs

    def rdd_ids():
        return set(jmap().keySet().toArray())

    before = rdd_ids()
    frame = entrymod.queries()[name](spark, SF_DIR)
    gc.collect()
    frame.count()
    pins = rdd_ids() - before
    assert pins, f"{name}: pins dead before the action"
    assert "InMemoryTableScan" in _executed(frame)
    del frame
    gc.collect()
    assert not (rdd_ids() & pins)
