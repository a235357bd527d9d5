"""Incremental MinHash index: union of per-sync pair sets == batch
operator output over the live corpus, for any append split."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from kartothek_spark.dataset.read import read_table
from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset
from kartothek_spark.operators.dedup import minhash_lsh_pairs
from kartothek_spark.operators.dedup_index import sync_minhash_index

THRESHOLD = 0.2


def _docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )


def _pairs_set(df):
    return {(r.id_a, r.id_b, r.jaccard) for r in df.collect()}


def test_incremental_equals_batch_two_splits(spark, tmp_root):
    docs = _docs(spark)
    # three append batches with a ragged split so ck clusters straddle them
    b1 = docs.where(F.col("doc_id") % 3 == 0)
    b2 = docs.where(F.col("doc_id") % 3 == 1)
    b3 = docs.where(F.col("doc_id") % 3 == 2)

    store_dataframe_as_dataset(spark, b1, tmp_root, "corpus", keep_history=True)
    p1 = sync_minhash_index(
        spark, tmp_root, "corpus", tmp_root, "mh_idx", threshold=THRESHOLD
    )
    update_dataset(spark, b2, tmp_root, "corpus")
    p2 = sync_minhash_index(
        spark, tmp_root, "corpus", tmp_root, "mh_idx", threshold=THRESHOLD
    )
    update_dataset(spark, b3, tmp_root, "corpus")
    p3 = sync_minhash_index(
        spark, tmp_root, "corpus", tmp_root, "mh_idx", threshold=THRESHOLD
    )

    got = _pairs_set(p1) | _pairs_set(p2) | _pairs_set(p3)
    want = _pairs_set(minhash_lsh_pairs(docs, threshold=THRESHOLD))
    assert got == want

    # per-sync sets are disjoint: nothing is emitted twice
    assert not (_pairs_set(p1) & _pairs_set(p2))
    assert not (_pairs_set(p2) & _pairs_set(p3))
    assert not (_pairs_set(p1) & _pairs_set(p3))

    # batch-1 pairs equal the batch operator on batch 1 alone
    assert _pairs_set(p1) == _pairs_set(minhash_lsh_pairs(b1, threshold=THRESHOLD))


def test_noop_sync_returns_empty(spark, tmp_root):
    docs = _docs(spark).limit(50)
    store_dataframe_as_dataset(spark, docs, tmp_root, "corpus", keep_history=True)
    sync_minhash_index(spark, tmp_root, "corpus", tmp_root, "mh_idx", threshold=THRESHOLD)
    again = sync_minhash_index(
        spark, tmp_root, "corpus", tmp_root, "mh_idx", threshold=THRESHOLD
    )
    assert again.count() == 0


def test_param_change_rejected(spark, tmp_root):
    docs = _docs(spark).limit(20)
    store_dataframe_as_dataset(spark, docs, tmp_root, "corpus", keep_history=True)
    sync_minhash_index(spark, tmp_root, "corpus", tmp_root, "mh_idx", threshold=THRESHOLD)
    with pytest.raises(ValueError, match="index identity"):
        sync_minhash_index(
            spark, tmp_root, "corpus", tmp_root, "mh_idx", threshold=0.9
        )


def test_refresh_on_partition_drop(spark, tmp_root):
    docs = _docs(spark).withColumn("bucket", (F.col("doc_id") % 2).cast("int"))
    store_dataframe_as_dataset(
        spark, docs, tmp_root, "corpus", partition_on=["bucket"], keep_history=True
    )
    sync_minhash_index(spark, tmp_root, "corpus", tmp_root, "mh_idx", threshold=THRESHOLD)
    update_dataset(spark, None, tmp_root, "corpus", delete_scope=[{"bucket": 1}])
    refreshed = sync_minhash_index(
        spark, tmp_root, "corpus", tmp_root, "mh_idx", threshold=THRESHOLD
    )
    live = read_table(spark, tmp_root, "corpus").select("doc_id", "text")
    want = _pairs_set(minhash_lsh_pairs(live, threshold=THRESHOLD))
    assert _pairs_set(refreshed) == want


def test_index_datasets_are_queryable(spark, tmp_root):
    docs = _docs(spark).limit(200)
    store_dataframe_as_dataset(spark, docs, tmp_root, "corpus", keep_history=True)
    sync_minhash_index(spark, tmp_root, "corpus", tmp_root, "mh_idx", threshold=THRESHOLD)
    idx = read_table(spark, tmp_root, "mh_idx")
    assert idx.columns == ["doc_id", "ck", "sig"]
    assert idx.count() == docs.where(F.col("text").isNotNull()).count()


def test_stream_dedup_index_matches_batch(spark, tmp_path):
    """Replay the documents corpus as a 3-file stream: after the stream
    drains, the pairs dataset must equal the batch operator over all
    ingested docs, and the index must cover every doc."""
    from kartothek_spark.streaming.update import stream_dedup_index

    docs = _docs(spark).limit(300).localCheckpoint(eager=True)
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)

    root = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_dedup_index(
        stream, root, threshold=THRESHOLD,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(180)

    got = _pairs_set(read_table(spark, root, "dup_pairs"))
    want = _pairs_set(minhash_lsh_pairs(docs, threshold=THRESHOLD))
    assert got == want
    assert read_table(spark, root, "mh_index").count() == docs.count()


# ---------------------------------------------------------------------------
# persisted SymSpell fuzzy index
# ---------------------------------------------------------------------------

def _fuzzy_corpus(spark):
    rows = [
        (1, "spark"), (2, "spork"), (3, "sparkle"), (4, "park"),
        (5, "table"), (6, "tables"), (7, "tabel"), (8, "spark"),  # dup key
        (9, ""), (10, "x"),
    ]
    return spark.createDataFrame(rows, "cid long, k string")


def test_fuzzy_index_matches_fuzzy_join(spark, tmp_path):
    """search_fuzzy_index(corpus=...) must be value-identical to the
    on-the-fly fuzzy_join over the same frames — the indexed path only
    moves the corpus-side blocking to build time."""
    from kartothek_spark.operators.dedup import fuzzy_join
    from kartothek_spark.operators.fuzzy_index import (
        build_fuzzy_index,
        search_fuzzy_index,
    )

    corpus = _fuzzy_corpus(spark)
    probes = spark.createDataFrame(
        [(101, "spark"), (102, "tale"), (103, "zzzzzz"), (104, "")],
        "pid long, q string",
    )
    root = str(tmp_path / "fx")
    build_fuzzy_index(spark, corpus, root, "fx", max_dist=2, string_col="k")

    got = sorted(
        tuple(r)
        for r in search_fuzzy_index(
            spark, root, "fx", probes, probe_key="q", probe_id="pid",
            corpus=corpus, corpus_key="k", corpus_id="cid",
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in fuzzy_join(
            corpus, probes, max_dist=2, left_on="k", right_on="q",
            left_id="cid", right_id="pid",
        ).collect()
    )
    assert got == want and got  # non-trivial

    # dictionary-lookup form: distinct keys, not row ids
    keys = sorted(
        tuple(r)
        for r in search_fuzzy_index(
            spark, root, "fx", probes, probe_key="q", probe_id="pid"
        ).collect()
    )
    assert (101, "spark", 0) in keys and (102, "table", 1) in keys
    assert not any(k == "zzzzzz" for _, k, _d in keys)

    # tightened distance: subset at dist <= 1, exact
    tight = sorted(
        tuple(r)
        for r in search_fuzzy_index(
            spark, root, "fx", probes, probe_key="q", probe_id="pid",
            corpus=corpus, corpus_key="k", corpus_id="cid", max_dist=1,
        ).collect()
    )
    assert tight == [t for t in want if t[2] <= 1]


def test_fuzzy_index_sync_and_guards(spark, tmp_path):
    """build(batch1)+sync(batch2) answers like an index over the union;
    widening the search distance past the indexed one errors."""
    import pytest

    from kartothek_spark.operators.fuzzy_index import (
        build_fuzzy_index,
        search_fuzzy_index,
        sync_fuzzy_index,
    )

    corpus = _fuzzy_corpus(spark)
    b1 = corpus.where("cid % 2 = 0")
    b2 = corpus.where("cid % 2 = 1")
    probes = spark.createDataFrame([(101, "spark"), (102, "tale")], "pid long, q string")

    root = str(tmp_path / "fx")
    build_fuzzy_index(spark, b1, root, "fx", max_dist=2, string_col="k")
    sync_fuzzy_index(spark, b2, root, "fx", string_col="k")
    root2 = str(tmp_path / "fx2")
    build_fuzzy_index(spark, corpus, root2, "fx2", max_dist=2, string_col="k")

    def run(r, u):
        return sorted(
            tuple(x)
            for x in search_fuzzy_index(
                spark, r, u, probes, probe_key="q", probe_id="pid",
                corpus=corpus, corpus_key="k", corpus_id="cid",
            ).collect()
        )

    assert run(root, "fx") == run(root2, "fx2")

    with pytest.raises(ValueError, match="rebuild"):
        search_fuzzy_index(
            spark, root, "fx", probes, probe_key="q", probe_id="pid", max_dist=3
        )
    with pytest.raises(ValueError, match="corpus_key"):
        search_fuzzy_index(
            spark, root, "fx", probes, probe_key="q", probe_id="pid", corpus=corpus
        )



def test_torn_sync_reemits_on_retry(spark, tmp_root, monkeypatch):
    """The second of a sync's two index commits fails once, after its
    files were written: first during the initial build, then during an
    incremental sync. The index (which carries the cursor) commits last,
    so the cursor stays where it was and each retry emits its whole
    delta's pairs: the union of emitted pairs equals the batch operator,
    and the index holds each document once. A torn initial build is
    cleared before the retry rebuilds. A retry re-sends the key pairs the
    failed sync already committed to ``__ckpairs``; that is value-neutral,
    because the inherited-pair expansion and the returned pairs both
    apply ``distinct()``."""
    from kartothek_spark.core.manifest import DatasetManifest

    docs = _docs(spark).where(F.col("doc_id") < 300)
    emitted = set()
    real_commit = DatasetManifest.commit

    def torn_then_retried_sync():
        commits = []

        def flaky_commit(self, *args, **kwargs):
            commits.append(self.dataset_uuid)
            if len(commits) == 2:
                raise RuntimeError("injected commit failure")
            return real_commit(self, *args, **kwargs)

        monkeypatch.setattr(DatasetManifest, "commit", flaky_commit)
        with pytest.raises(RuntimeError, match="injected"):
            sync_minhash_index(spark, tmp_root, "corpus", tmp_root, "mh_idx", threshold=THRESHOLD)
        monkeypatch.undo()
        assert len(commits) == 2
        emitted.update(_pairs_set(sync_minhash_index(
            spark, tmp_root, "corpus", tmp_root, "mh_idx", threshold=THRESHOLD
        )))

    store_dataframe_as_dataset(
        spark, docs.where(F.col("doc_id") % 2 == 0), tmp_root, "corpus", keep_history=True
    )
    torn_then_retried_sync()
    update_dataset(spark, docs.where(F.col("doc_id") % 2 == 1), tmp_root, "corpus")
    torn_then_retried_sync()

    want = _pairs_set(minhash_lsh_pairs(docs, threshold=THRESHOLD))
    assert want and emitted == want
    assert read_table(spark, tmp_root, "mh_idx").count() == docs.count()
