"""Round-3 regression tests: exactly-once micro-batch retry, hidden
partition-column re-derivation on update, chunk_corpus trailing-overlap
chunk, and null group keys in the incremental aggregate view."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kartothek_spark.core.manifest import DatasetManifest
from kartothek_spark.dataset.read import read_table
from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset
from tests.conftest import SF_DIR


def _sorted_rows(spark, root, *uuids):
    return [sorted(str(r) for r in read_table(spark, root, u).collect()) for u in uuids]


def _replay_cases():
    from kartothek_spark.operators.contamination_index import _bands_uuid
    from kartothek_spark.operators.search_index import search_text_index

    def search(spark, root):
        return search_text_index(spark, root, "ev", ["scan", "merge", "window"], k=20).collect()

    return [
        pytest.param("stream_update_dataset", {"keep_history": True},
                     lambda spark, root: _sorted_rows(spark, root, "ev"),
                     id="stream_update_dataset"),
        pytest.param("stream_text_index", {"buckets": 4}, search, id="stream_text_index"),
        # two-dataset commit: the bands dataset is the ``also_owned`` one
        pytest.param("stream_contamination_index", {},
                     lambda spark, root: _sorted_rows(spark, root, "ev", _bands_uuid("ev")),
                     id="stream_contamination_index"),
        # overwrite-style fold: a replay would double every cell
        pytest.param("stream_cms_sketch", {},
                     lambda spark, root: _sorted_rows(spark, root, "ev"),
                     id="stream_cms_sketch"),
    ]


@pytest.mark.parametrize("op_name, kwargs, answer", _replay_cases())
def test_stream_retry_of_committed_batch_is_noop(spark, tmp_path, monkeypatch, op_name,
                                                 kwargs, answer):
    """foreachBatch is at-least-once: simulate a crash between the dataset
    commit and the checkpoint advance by deleting the checkpoint's commit
    marker for the last batch and restarting — the re-delivered batch must
    NOT land again (last_stream_batch manifest stamp): same live version,
    same answer, and no build, sync or store runs (no commit, no file)."""
    from kartothek_spark.streaming import update

    src = str(tmp_path / "src")
    root = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).where(
        F.col("doc_id") < 90
    ).select("doc_id", "text")
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = getattr(update, op_name)(
            stream, root, "ev", checkpoint_dir=ckpt,
            trigger={"availableNow": True}, **kwargs,
        )
        q.awaitTermination(300)
        assert q.exception() is None

    def files():
        return sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)

    run()
    want = answer(spark, root)
    assert want and all(want)  # no empty dataset or search result
    v_before = DatasetManifest.load(root, "ev").version
    files_before = files()

    # crash window: checkpoint says batch 2 never finished → re-delivered
    os.remove(os.path.join(ckpt, "commits", "2"))
    crc = os.path.join(ckpt, "commits", ".2.crc")
    if os.path.exists(crc):
        os.remove(crc)
    commits = []
    real_commit = DatasetManifest.commit
    monkeypatch.setattr(
        DatasetManifest, "commit",
        lambda self, *a, **kw: commits.append(self.dataset_uuid) or real_commit(self, *a, **kw),
    )
    run()
    monkeypatch.undo()
    assert commits == [] and files() == files_before  # nothing built, synced or stored
    assert DatasetManifest.load(root, "ev").version == v_before  # no extra commit
    assert answer(spark, root) == want  # no duplicate rows, postings or counts


def test_stream_update_purges_uncommitted_batch0_payload(spark, tmp_path):
    """A first commit that crashed before its manifest leaves payload under
    ``<uuid>/table/``; the stream must purge that debris rather than adopt
    it into the batch-0 build (which would commit every row twice)."""
    from kartothek_spark.streaming.update import stream_update_dataset

    src = str(tmp_path / "src")
    root = str(tmp_path / "store")
    batch = spark.range(30).selectExpr("id", "id % 4 AS k").coalesce(1)
    batch.write.parquet(src)
    batch.write.parquet(os.path.join(root, "ev", "table"))  # debris: no manifest
    assert not DatasetManifest.exists(root, "ev")

    q = stream_update_dataset(
        spark.readStream.schema("id long, k long").parquet(src), root, "ev",
        checkpoint_dir=str(tmp_path / "ckpt"), trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert read_table(spark, root, "ev").count() == 30


def test_batch_already_committed_guard(tmp_path, spark):
    from kartothek_spark.streaming.update import _batch_already_committed

    root = str(tmp_path)
    assert not _batch_already_committed(root, "nope", 0, "ck")
    df = spark.createDataFrame([Row(a=1)])
    store_dataframe_as_dataset(
        spark, df, root, "ds",
        metadata={"last_stream_batch": 5, "last_stream_txn": "ck"},
    )
    assert _batch_already_committed(root, "ds", 5, "ck")
    assert _batch_already_committed(root, "ds", 4, "ck")  # earlier: landed too
    assert not _batch_already_committed(root, "ds", 6, "ck")
    # a DIFFERENT transaction identity (fresh checkpoint) is never a retry
    assert not _batch_already_committed(root, "ds", 0, "other-ck")
    assert not _batch_already_committed(root, "ds", 0, None)


def test_stream_restart_with_fresh_checkpoint_is_not_discarded(spark, tmp_path):
    """Restarting ingestion with a NEW checkpoint restarts batch_ids at 0;
    the retry guard must key on the transaction identity, not the bare
    batch id — otherwise the restart's batches would be silently dropped
    (the at-least-once reprocessing a fresh checkpoint implies must land)."""
    from kartothek_spark.streaming.update import stream_update_dataset

    src = str(tmp_path / "src")
    root = str(tmp_path / "store")
    batch = spark.range(90).selectExpr("id", "id % 4 AS k")
    for i in range(3):
        batch.where(F.col("id") % 3 == i).coalesce(1).write.mode("append").parquet(src)

    def run(ckpt):
        stream = (
            spark.readStream.schema("id long, k long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream_update_dataset(
            stream, root, "ev", checkpoint_dir=ckpt,
            trigger={"availableNow": True}, keep_history=True,
        )
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt1"))
    assert read_table(spark, root, "ev").count() == 90
    # fresh checkpoint: the source replays from scratch (batch ids 0..2);
    # stored last_stream_batch=2 must NOT suppress them
    run(str(tmp_path / "ckpt2"))
    assert read_table(spark, root, "ev").count() == 180


def test_update_rederives_inconsistent_hidden_partition_column(spark, tmp_root):
    """A caller-supplied column shadowing a hidden derived partition column
    is dropped and re-derived — wrong values must not land rows in
    partitions that violate the transform invariant (which would make
    widened pruning silently skip them)."""
    import datetime as dt

    ts = lambda d, h: dt.datetime(2024, 1, d, h)
    base = spark.createDataFrame(
        [Row(user_id=1, ts=ts(1, 10), v=1.0)], "user_id long, ts timestamp, v double"
    )
    store_dataframe_as_dataset(
        spark, base, tmp_root, "ev", partition_transforms=[("d", "day", "ts")]
    )
    # poisoned frame: 'd' claims Jan 5 for a Jan 2 timestamp
    bad = spark.createDataFrame(
        [Row(user_id=2, ts=ts(2, 11), v=2.0, d=dt.date(2024, 1, 5))],
        "user_id long, ts timestamp, v double, d date",
    )
    update_dataset(spark, bad, tmp_root, "ev")
    # raw-timestamp predicate widens to d == 2024-01-02; the row must be found
    got = read_table(
        spark, tmp_root, "ev", predicates=[[("ts", "==", ts(2, 11))]]
    ).collect()
    assert [r.user_id for r in got] == [2]
    # and the physical partition is the derived one, not the poisoned one
    m = DatasetManifest.load(tmp_root, "ev")
    assert any("d=2024-01-02" in lbl for lbl in m.partitions)
    assert not any("d=2024-01-05" in lbl for lbl in m.partitions)


def test_attached_foreign_labels_skip_equality_fast_path(spark, tmp_path):
    """A foreign hive writer may zero-pad values; the dispatch fast path
    must not string-match against non-canonical labels — attached
    datasets always take the strict parse loop."""
    import os

    from kartothek_spark.dataset.write import attach_dataset

    root = str(tmp_path)
    raw = os.path.join(root, "raw")
    # non-canonical int rendering a foreign tool might produce
    os.makedirs(os.path.join(raw, "month=01"))
    os.makedirs(os.path.join(raw, "month=11"))
    spark.createDataFrame([Row(v=1.0)]).coalesce(1).write.parquet(
        os.path.join(raw, "month=01"), mode="overwrite"
    )
    spark.createDataFrame([Row(v=2.0)]).coalesce(1).write.parquet(
        os.path.join(raw, "month=11"), mode="overwrite"
    )
    m = attach_dataset(spark, root, "ext", raw)
    got = m.query(predicates=[[("month", "==", 1)]])
    assert len(got) == 1 and "month=01" in got[0]


def test_chunk_corpus_no_trailing_pure_overlap_chunk(spark):
    """A doc with n <= last_start + overlap tokens must not emit a final
    chunk made entirely of already-covered overlap tokens."""
    from kartothek_spark.operators.corpus import chunk_corpus

    def doc(n):
        return " ".join(f"t{i}" for i in range(n))

    df = spark.createDataFrame(
        [(97, doc(97)), (128, doc(128)), (129, doc(129)), (96, doc(96))],
        "doc_id long, text string",
    )
    rows = chunk_corpus(df, chunk_tokens=128, overlap=32).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 97 tokens < one chunk → exactly one chunk (the r2 bug emitted two)
    assert len(by_doc[97]) == 1 and by_doc[97][0].n_tokens == 97
    assert len(by_doc[128]) == 1
    assert len(by_doc[96]) == 1
    # 129 tokens needs a second chunk carrying 1 new + 32 overlap tokens
    two = sorted(by_doc[129], key=lambda r: r.chunk_id)
    assert len(two) == 2 and two[1].n_tokens == 33
    # invariant: every non-first chunk contributes at least one new token
    for rs in by_doc.values():
        for r in rs:
            if r.chunk_id > 0:
                assert r.n_tokens > 32


def _near_dup_cluster(spark, n, base_tokens=40):
    """n documents sharing base_tokens tokens, each with ONE unique token —
    distinct content keys (no rep-collapse), near-identical signatures."""
    common = " ".join(f"w{i}" for i in range(base_tokens))
    return spark.createDataFrame(
        [(i, f"{common} unique{i}") for i in range(n)], "doc_id long, text string"
    )


def test_minhash_hot_band_cap_bounds_near_dup_mega_cluster(spark):
    """The rep-collapse guard only catches IDENTICAL docs; a near-identical
    cluster shares band keys with d distinct signatures. The bucket cap
    must bound the d² candidate blowup (recall tradeoff, documented)."""
    from kartothek_spark.operators.dedup import minhash_lsh_pairs

    # uncapped small cluster: full quadratic pair set survives verification
    small = _near_dup_cluster(spark, 30)
    full = minhash_lsh_pairs(small, threshold=0.5, max_band_bucket=None).count()
    assert full == 30 * 29 // 2

    # capped mega-cluster: every band bucket is hot → dropped → bounded
    mega = _near_dup_cluster(spark, 300)
    capped = minhash_lsh_pairs(mega, threshold=0.5, max_band_bucket=50).count()
    assert capped == 0
    # and the cap leaves genuinely-identical docs paired (rep-collapse path)
    ident = spark.createDataFrame(
        [(i, "same text for everyone") for i in range(10)], "doc_id long, text string"
    )
    assert minhash_lsh_pairs(ident, threshold=0.5, max_band_bucket=50).count() == 45


def test_capped_minhash_matches_duckdb_twin(spark):
    """The SQL twin structurally mirrors rep-collapse + bucket cap, so
    capped results stay bit-identical across engines — even on the
    near-dup mega-cluster the cap exists for."""
    import duckdb

    from kartothek_spark.operators.dedup import minhash_lsh_pairs, minhash_lsh_pairs_sql

    mega = _near_dup_cluster(spark, 120).unionByName(
        spark.createDataFrame(
            [(1000 + i, "same text for everyone") for i in range(10)],
            "doc_id long, text string",
        )
    )
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(mega, threshold=0.2, max_band_bucket=30).collect()
    }
    con = duckdb.connect()
    con.register("docs", mega.toPandas())
    want = {
        tuple(r)
        for r in con.execute(
            minhash_lsh_pairs_sql("docs", "text", "doc_id", threshold=0.2, max_band_bucket=30)
        ).fetchall()
    }
    assert got == want and len(want) == 45  # only the identical-doc cluster survives


def test_simhash_hot_band_cap(spark):
    from kartothek_spark.operators.dedup import simhash_pairs

    mega = _near_dup_cluster(spark, 300)
    full = simhash_pairs(mega, max_hamming=10, max_band_bucket=None).count()
    got = simhash_pairs(mega, max_hamming=10, max_band_bucket=50).count()
    # the cluster is all-pairs near-dup when uncapped; with the cap, the
    # hot band buckets (DISTINCT near-identical fingerprints) are dropped
    # and only the rep-collapse intra pairs (identical fingerprints, exact
    # by construction) remain — bounded far below the uncapped quadratic
    assert full > 20_000  # near-quadratic when uncapped
    assert 0 < got < full // 4


def test_stratified_sample_two_phase_mega_group(spark):
    """One group holding 95% of rows must not serialize through a single
    window task: the plan shards phase 1 on (group, __shard), and the
    selection equals the single-window reference bit for bit."""
    from pyspark.sql import Window

    from kartothek_spark.functions.hashing import h60
    from kartothek_spark.operators.corpus import stratified_sample

    df = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 20 == 0, F.lit("rare")).otherwise(F.lit("mega")).alias("src"),
    )
    out = stratified_sample(df, "src", quota=37)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__shard" in plan  # phase-1 window is sharded, never group-only

    # single-window reference (the semantics the SQL oracle pins)
    h = h60(F.concat(F.lit("stratified:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("src").orderBy(F.asc("__h"), F.asc("doc_id"))
    ref = (
        df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 37)
        .drop("__h", "__rn")
    )
    got = sorted((r.doc_id, r.src) for r in out.collect())
    want = sorted((r.doc_id, r.src) for r in ref.collect())
    assert got == want and len(got) == 74


def test_diversity_sample_two_phase(spark):
    import os

    from kartothek_spark.operators.similarity import diversity_sample
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).limit(3000)
    out = diversity_sample(emb, quota=5, keep_bucket=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__shard" in plan
    # per-bucket cap holds
    sizes = out.groupBy("bucket").count().agg(F.max("count")).first()[0]
    assert sizes <= 5


def test_shard_corpus_balanced_deterministic(spark):
    """Training-export sharding: assignment is partitioning-invariant,
    shards are balanced, within-shard order is stable, and the operator
    itself adds NO shuffle (the caller keys the write on `shard`)."""
    from kartothek_spark.operators.corpus import shard_corpus

    df = spark.range(20_000).select(F.col("id").alias("doc_id"))
    a = shard_corpus(df, n_shards=16)
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure projection

    counts = {r.shard: r["count"] for r in a.groupBy("shard").count().collect()}
    assert set(counts) == set(range(16))
    expected = 20_000 / 16
    assert all(abs(c - expected) < expected * 0.15 for c in counts.values())

    # partitioning-invariance: same assignment under a different layout
    b = shard_corpus(df.repartition(7), n_shards=16)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # shard_pos is uncorrelated with doc order: the hash-smallest doc ids
    # must not simply be the smallest shard_pos values
    rows = a.where("shard = 0").orderBy("shard_pos").limit(10).collect()
    assert [r.doc_id for r in rows] != sorted(r.doc_id for r in rows)


def test_count_rows_metadata_only_and_fallback(spark, tmp_root):
    """count_rows: exact metadata sums for partition-key predicates +
    mutations; scan fallback for residual predicates; allow_scan=False
    pins which path served."""
    from kartothek_spark.dataset.read import count_rows

    df = spark.createDataFrame(
        [Row(k=i % 3, v=float(i)) for i in range(90)], "k long, v double"
    )
    store_dataframe_as_dataset(
        spark, df, tmp_root, "ds", partition_on=["k"], stats_columns=["v"]
    )
    assert count_rows(spark, tmp_root, "ds", allow_scan=False) == 90
    assert count_rows(
        spark, tmp_root, "ds", predicates=[[("k", "==", 1)]], allow_scan=False
    ) == 30
    # appended files get counts too (same stats job)
    update_dataset(spark, spark.createDataFrame([Row(k=1, v=9.0)]), tmp_root, "ds")
    assert count_rows(
        spark, tmp_root, "ds", predicates=[[("k", "==", 1)]], allow_scan=False
    ) == 31
    # residual predicate (non-key column): metadata path must refuse...
    with pytest.raises(ValueError, match="metadata-only count unavailable"):
        count_rows(
            spark, tmp_root, "ds", predicates=[[("v", "<", 10.0)]], allow_scan=False
        )
    # ...and the scan fallback answers exactly (10 originals + the 9.0 append)
    assert count_rows(spark, tmp_root, "ds", predicates=[[("v", "<", 10.0)]]) == 11
    # dataset without stats_columns has no counts: refuse / fall back
    store_dataframe_as_dataset(spark, df, tmp_root, "nostats", partition_on=["k"])
    with pytest.raises(ValueError, match="lacks write-time row counts"):
        count_rows(spark, tmp_root, "nostats", allow_scan=False)
    assert count_rows(spark, tmp_root, "nostats") == 90


def test_cohort_retention_hand_checked(spark):
    """Retention triangle on a hand-built log: cohort = first-activity
    week, index-0 counts equal cohort sizes, returners land at the right
    period index."""
    import datetime as dt

    from kartothek_spark.operators.temporal import cohort_retention

    d = lambda day, h=12: dt.datetime(2024, 1, day, h)  # Jan 1 2024 is a Monday
    rows = [
        (1, d(1)), (1, d(3)),    # u1: week0 cohort, active week0 only
        (2, d(2)), (2, d(9)),    # u2: week0 cohort, returns week1
        (3, d(8)),               # u3: week1 cohort
        (2, d(16)),              # u2 returns again week2
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.cohort_start.date().isoformat(), r.period_index): r.n_users
        for r in cohort_retention(df, period="week").collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,  # u1+u2 cohort week
        ("2024-01-01", 1): 1,  # u2 returned
        ("2024-01-01", 2): 1,  # u2 again
        ("2024-01-08", 0): 1,  # u3 cohort week
    }


def test_sample_frames_includes_final_partial_interval(spark):
    from kartothek_spark.operators.multimodal import make_media_df, sample_frames

    df = spark.createDataFrame([Row(doc_id=1, text="x" * 157)])
    media = make_media_df(df, "doc_id", "text", kind="video").withColumn(
        "meta",
        F.struct(
            F.col("meta.mime").alias("mime"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.lit(1570).cast("long").alias("duration_ms"),  # 1.57 s
        ),
    )
    ts = sorted(r.ts_ms for r in sample_frames(media, every_ms=1000).collect())
    assert ts == [0, 1000]  # the frame inside the final partial interval


def test_sync_aggregate_null_group_key_raises_clearly(spark, tmp_root):
    from kartothek_spark.dataset.sync import sync_aggregate_dataset

    src = spark.createDataFrame(
        [Row(g="a", v=1.0), Row(g="b", v=2.0)], "g string, v double"
    )
    store_dataframe_as_dataset(spark, src, tmp_root, "src", keep_history=True)
    sync_aggregate_dataset(
        spark, tmp_root, "src", tmp_root, "view",
        group_by=["g"], aggs=[("s", "sum", "v")],
    )
    # incremental batch with a NULL group key → actionable error, not the
    # write layer's generic null-partition-key abort
    update_dataset(
        spark,
        spark.createDataFrame([Row(g=None, v=9.0)], "g string, v double"),
        tmp_root,
        "src",
    )
    with pytest.raises(ValueError, match="NULL value in group column"):
        sync_aggregate_dataset(
            spark, tmp_root, "src", tmp_root, "view",
            group_by=["g"], aggs=[("s", "sum", "v")],
        )
    # the INITIAL build path raises the same actionable error
    src2 = spark.createDataFrame(
        [Row(g=None, v=1.0), Row(g="b", v=2.0)], "g string, v double"
    )
    store_dataframe_as_dataset(spark, src2, tmp_root, "src2", keep_history=True)
    with pytest.raises(ValueError, match="NULL value in group column"):
        sync_aggregate_dataset(
            spark, tmp_root, "src2", tmp_root, "view2",
            group_by=["g"], aggs=[("s", "sum", "v")],
        )


def test_asof_join_property_random_inputs(spark):
    """Property: for random keyed/keyless inputs and both directions, the
    as-of join equals a brute-force python reference (latest-at-or-before
    / earliest-at-or-after per key, whole-row payload)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from kartothek_spark.operators.temporal import asof_join

    @settings(
        max_examples=6, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        lts=st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 1000)),
            min_size=1, max_size=40,
        ),
        rts=st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 1000)),
            min_size=0, max_size=40, unique=True,
        ),
        keyed=st.booleans(),
        direction=st.sampled_from(["backward", "forward"]),
    )
    def prop(lts, rts, keyed, direction):
        # keyless mode ignores the key; right must be unique per (by, on)
        if keyed:
            rset = {(k, t) for k, t in rts}
        else:
            seen, rset = set(), set()
            for k, t in rts:
                if t not in seen:
                    seen.add(t)
                    rset.add((k, t))
        left = spark.createDataFrame(
            [(k, t, i) for i, (k, t) in enumerate(lts)], "k long, ts long, lid long"
        )
        right = spark.createDataFrame(
            [(k, t, float(t)) for k, t in sorted(rset)], "k long, ts long, rv double"
        ) if rset else spark.createDataFrame([], "k long, ts long, rv double")
        if not keyed:
            # keyless mode treats every column as payload — drop the key
            # from one side to avoid the (documented) collision error
            right = right.drop("k")
        out = asof_join(
            left, right, on="ts", by="k" if keyed else None, direction=direction
        )
        got = {r.lid: r.rv for r in out.collect()}

        def ref(k, t):
            cands = [
                rt for rk, rt in rset
                if (rk == k or not keyed)
                and (rt <= t if direction == "backward" else rt >= t)
            ]
            if not cands:
                return None
            return float(max(cands) if direction == "backward" else min(cands))

        assert got == {i: ref(k, t) for i, (k, t) in enumerate(lts)}

    prop()


def test_verify_dataset_detects_corruption(spark, tmp_root):
    """fsck: a healthy dataset passes; a deleted payload file and a stale
    index are both reported with actionable messages."""
    import shutil

    from kartothek_spark import cli
    from kartothek_spark.dataset.metadata import verify_dataset
    from kartothek_spark.dataset.write import update_dataset as upd

    df = spark.createDataFrame(
        [Row(k=i % 3, s=i % 5, v=float(i)) for i in range(30)],
        "k long, s long, v double",
    )
    store_dataframe_as_dataset(
        spark, df, tmp_root, "ds", partition_on=["k"], secondary_indices=["s"]
    )
    report = verify_dataset(tmp_root, "ds")
    assert report["ok"] and report["partitions"] == report["files_checked"] == 3

    # CLI passes through (exit code mirrors health)
    assert cli.main(["check", "--root", tmp_root, "--dataset", "ds"]) == 0

    # corrupt: remove one payload file behind the manifest's back
    m = DatasetManifest.load(tmp_root, "ds")
    victim = sorted(m.partitions)[0]
    os.remove(m.file_path(victim))
    report = verify_dataset(tmp_root, "ds")
    assert not report["ok"]
    assert any("missing payload file" in e for e in report["errors"])
    assert cli.main(["check", "--root", tmp_root, "--dataset", "ds"]) == 1

    # stale index: drop a partition via manifest-only surgery (simulating
    # an index that missed an update) — verify must flag it
    store_dataframe_as_dataset(
        spark, df, tmp_root, "ds2", partition_on=["k"], secondary_indices=["s"]
    )
    m2 = DatasetManifest.load(tmp_root, "ds2")
    gone = sorted(m2.partitions)[0]
    shutil.rmtree(os.path.dirname(m2.file_path(gone)))
    del m2.partitions[gone]
    m2.commit(check_conflict=False)
    report = verify_dataset(tmp_root, "ds2")
    assert not report["ok"]
    assert any("non-live partition" in e for e in report["errors"])
