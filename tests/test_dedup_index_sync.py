"""Incremental MinHash sync on the driver: its job budget, its Jaccard
rounding against Spark's, and new members of already-indexed content keys
inheriting the key's stored cross-key pairs."""

import os

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, spark_jobs

from kartothek_spark.dataset.read import read_table
from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset
from kartothek_spark.operators.dedup import minhash_lsh_pairs
from kartothek_spark.operators.dedup_index import _jaccard, sync_minhash_index

THRESHOLD = 0.2


def _pairs_set(df):
    return {(r.id_a, r.id_b, r.jaccard) for r in df.collect()}


def _sync(spark, root):
    return sync_minhash_index(spark, root, "corpus", root, "mh_idx", threshold=THRESHOLD)


def test_incremental_sync_job_budget(spark, tmp_root):
    """A 30-doc sync against a 100-doc index runs at most 10 Spark jobs
    (four scans, two index appends), and its pairs complete the batch
    operator's."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select("doc_id", "text")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    first, delta = docs.where(F.col("doc_id").isin(ids[:100])), docs.where(F.col("doc_id").isin(ids[100:130]))
    store_dataframe_as_dataset(spark, first, tmp_root, "corpus", keep_history=True)
    built = _pairs_set(_sync(spark, tmp_root))
    update_dataset(spark, delta, tmp_root, "corpus")

    pairs, jobs = spark_jobs(spark, lambda: _sync(spark, tmp_root))
    assert len(jobs) <= 10, jobs
    new = _pairs_set(pairs)
    assert new and not (new & built)
    assert built | new == _pairs_set(minhash_lsh_pairs(first.unionByName(delta), threshold=THRESHOLD))


def test_driver_jaccard_rounds_like_spark(spark):
    """``_jaccard`` equals Spark's ``round(p / q, 6)`` on doubles for every
    0 <= p <= q <= 1200 (Python's ``round`` does not)."""
    n = 1200
    ratios = (
        spark.range(0, n + 1).withColumnRenamed("id", "p")
        .crossJoin(spark.range(1, n + 1).withColumnRenamed("id", "q"))
        .where(F.col("p") <= F.col("q"))
        .select("p", "q", F.round(F.col("p").cast("double") / F.col("q").cast("double"), 6).alias("j"))
        .toArrow()
    )
    assert ratios.num_rows == 721_800
    rows = zip(*(ratios.column(c).to_pylist() for c in ("p", "q", "j")))
    wrong = [(p, q, j) for p, q, j in rows if _jaccard(p, q) != j]
    assert wrong == []
    # the half-even binary rounding of Python's round() is not Spark's
    assert round(1 / 128, 6) == 0.007812 and _jaccard(1, 128) == 0.007813


def _text(words, swap=None):
    out = [f"w{i}" for i in range(words)]
    if swap is not None:
        out[swap] = "changed"
    return " ".join(out)


def test_new_members_inherit_stored_key_pairs(spark, tmp_root):
    """Docs 1 and 2 are near-duplicates, so the build stores their key
    pair. The delta adds a copy of each (3 has 1's text, 4 has 2's) and an
    unrelated doc. A copy's pairs with the other key's members come only
    from the stored pair, on either of its endpoints. The union of emitted
    pairs equals the batch operator."""
    a, b, other = _text(60), _text(60, swap=59), "an unrelated document text of its own"
    schema = "doc_id long, text string"
    first = spark.createDataFrame([(1, a), (2, b), (9, other)], schema)
    delta = spark.createDataFrame([(3, a), (4, b), (5, "yet another one")], schema)
    store_dataframe_as_dataset(spark, first, tmp_root, "corpus", keep_history=True)
    built = _pairs_set(_sync(spark, tmp_root))
    assert [(r.jaccard,) for r in read_table(spark, tmp_root, "mh_idx__ckpairs").collect()] == [
        (j,) for i, k, j in built if (i, k) == (1, 2)
    ]
    update_dataset(spark, delta, tmp_root, "corpus")
    new = _pairs_set(_sync(spark, tmp_root))

    j = next(j for i, k, j in built if (i, k) == (1, 2))
    assert {(1, 4, j), (2, 3, j), (3, 4, j)} <= new  # inherited and between new members
    assert {(1, 3, 1.0), (2, 4, 1.0)} <= new  # intra
    assert built | new == _pairs_set(minhash_lsh_pairs(first.unionByName(delta), threshold=THRESHOLD))
    assert not (built & new)
