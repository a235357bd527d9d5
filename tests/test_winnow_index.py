"""Persisted winnowing fingerprint index (operators/winnow_index.py).

Contracts pinned here:
* pair query over the index == on-the-fly winnow_dup_pairs (value-identical,
  same (doc, fp)-set semantics and df cap);
* build(batch1) + sync(batch2) answers exactly like build(union) — the
  O(new docs) incremental contract every index family shares;
* probe lookup == an independent pandas recomputation from the raw
  fingerprints (not the module's own join), excludes self-matches, and the
  pruned-read fast path equals the distributed-join fallback;
* a small probe batch reads ONLY its fingerprints' fb buckets (manifest
  partition pruning, asserted on the scan's file list);
* streaming maintenance (stream_winnow_index) == one batch build.
"""

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _docs(spark, n=120):
    return (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .where(F.col("doc_id") < n)
        .select("doc_id", "text")
    )


def _with_snips(docs):
    """Planted 120-char prefixes under fresh ids — guarantees overlaps."""
    snips = docs.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substring(text, 1, 120)").alias("text"),
    )
    return docs.unionByName(snips)


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


def test_winnow_index_pairs_match_on_the_fly(spark, tmp_path):
    from kartothek_spark.operators.dedup import winnow_dup_pairs
    from kartothek_spark.operators.winnow_index import (
        build_winnow_index,
        winnow_dup_pairs_indexed,
    )

    corpus = _with_snips(_docs(spark))
    root = str(tmp_path / "wx")
    build_winnow_index(spark, corpus, root, "wx", k=8, w=4, buckets=8)

    got = _pairs(winnow_dup_pairs_indexed(spark, root, "wx", min_shared=12))
    want = _pairs(winnow_dup_pairs(corpus, k=8, w=4, min_shared=12))
    assert got == want and got


def test_winnow_index_sync_incremental_equals_batch(spark, tmp_path):
    from kartothek_spark.operators.winnow_index import (
        build_winnow_index,
        sync_winnow_index,
        winnow_dup_pairs_indexed,
    )

    corpus = _with_snips(_docs(spark))
    b1 = corpus.where("doc_id % 2 = 0")
    b2 = corpus.where("doc_id % 2 = 1")

    inc = str(tmp_path / "inc")
    build_winnow_index(spark, b1, inc, "wx", k=8, w=4, buckets=8)
    sync_winnow_index(spark, b2, inc, "wx")
    full = str(tmp_path / "full")
    build_winnow_index(spark, corpus, full, "wx", k=8, w=4, buckets=8)

    got = _pairs(winnow_dup_pairs_indexed(spark, inc, "wx", min_shared=12))
    want = _pairs(winnow_dup_pairs_indexed(spark, full, "wx", min_shared=12))
    assert got == want and got


def _expected_probe_hits(spark, corpus, probes, k, w, min_shared, max_df):
    """Independent pandas recomputation of the probe-overlap semantics
    from raw fingerprints (NOT the module's join)."""
    from kartothek_spark.operators.dedup import winnow_fingerprints

    cfp = {
        (r.doc_id, r.fp)
        for r in winnow_fingerprints(corpus, "text", "doc_id", k, w).collect()
    }
    pfp = {
        (r.doc_id, r.fp)
        for r in winnow_fingerprints(probes, "text", "doc_id", k, w).collect()
    }
    df_count = Counter(fp for _, fp in cfp)
    hits = Counter()
    for pid, fp in pfp:
        if df_count[fp] > max_df:
            continue
        for did, cfp_fp in cfp:
            if cfp_fp == fp and did != pid:
                hits[(did, pid)] += 1
    return sorted(
        (did, pid, n) for (did, pid), n in hits.items() if n >= min_shared
    )


def test_winnow_search_matches_bruteforce_and_join_fallback(
    spark, tmp_path, monkeypatch
):
    from kartothek_spark.operators import winnow_index as wi

    corpus = _docs(spark, n=80)
    # probes: 120-char prefixes, half under NEW ids, half re-probing the
    # SAME id (self-match must be excluded, other dups still found)
    probes = corpus.where(F.col("doc_id") % 9 == 0).select(
        F.when(F.col("doc_id") % 2 == 0, F.col("doc_id") + 500000)
        .otherwise(F.col("doc_id"))
        .alias("doc_id"),
        F.expr("substring(text, 1, 120)").alias("text"),
    )
    root = str(tmp_path / "wx")
    wi.build_winnow_index(spark, corpus, root, "wx", k=8, w=4, buckets=8)

    got = sorted(
        tuple(r)
        for r in wi.search_winnow_index(
            spark, root, "wx", probes, min_shared=3
        ).collect()
    )
    want = _expected_probe_hits(
        spark, corpus, probes, k=8, w=4, min_shared=3, max_df=wi.NGRAM_MAX_DF
    )
    assert got == want and got
    # self-probes (odd ids re-probed under their own id) never match self
    assert all(did != pid for did, pid, _ in got)

    # the distributed-join fallback is value-identical to the pruned path
    monkeypatch.setattr(wi, "PUSHDOWN_MAX_FPS", 0)
    fallback = sorted(
        tuple(r)
        for r in wi.search_winnow_index(
            spark, root, "wx", probes, min_shared=3
        ).collect()
    )
    assert fallback == want


def test_winnow_search_small_probe_reads_only_its_buckets(spark, tmp_path):
    from kartothek_spark.operators.dedup import winnow_fingerprints
    from kartothek_spark.operators.winnow_index import (
        build_winnow_index,
        search_winnow_index,
    )

    corpus = _docs(spark)
    root = str(tmp_path / "wx")
    build_winnow_index(spark, corpus, root, "wx", k=8, w=4, buckets=16)

    # a 14-char probe at k=8,w=4 selects <=4 fingerprints -> <=4 buckets
    probe = corpus.where("doc_id = 3").select(
        (F.col("doc_id") + 900000).alias("doc_id"),
        F.expr("substring(text, 1, 14)").alias("text"),
    )
    fps = [r.fp for r in winnow_fingerprints(probe, "text", "doc_id", 8, 4).collect()]
    assert 0 < len(fps) <= 4
    want_buckets = {f"fb={fp % 16}" for fp in fps}

    out = search_winnow_index(spark, root, "wx", probe, min_shared=1)
    idx_files = [f for f in out.inputFiles() if "/wx/" in f]
    assert idx_files, "probe lookup must scan the index dataset"
    seen_buckets = {seg for f in idx_files for seg in f.split("/") if seg.startswith("fb=")}
    assert seen_buckets <= want_buckets
    assert len(seen_buckets) < 16  # genuinely pruned


def test_winnow_search_empty_probe_batch(spark, tmp_path):
    from kartothek_spark.operators.winnow_index import (
        build_winnow_index,
        search_winnow_index,
    )

    corpus = _docs(spark, n=40)
    root = str(tmp_path / "wx")
    build_winnow_index(spark, corpus, root, "wx", k=8, w=4, buckets=4)
    out = search_winnow_index(
        spark, root, "wx", corpus.where("doc_id < 0"), min_shared=1
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "probe_id", "n_shared"]


def test_winnow_probe_sql_twin_matches(spark, tmp_path):
    """The DuckDB twin of search_winnow_index must value-match Spark on
    the same frames — the cross-engine contract the registry gate uses."""
    import duckdb

    from kartothek_spark.operators.winnow_index import (
        build_winnow_index,
        search_winnow_index,
        winnow_probe_sql,
    )

    corpus = _docs(spark, n=60)
    probes = corpus.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 500000).alias("probe_id"),
        F.expr("substring(text, 1, 120)").alias("text"),
    )
    root = str(tmp_path / "wx")
    build_winnow_index(spark, corpus, root, "wx", k=8, w=4, buckets=8)
    got = sorted(
        tuple(r)
        for r in search_winnow_index(
            spark, root, "wx", probes, probe_id="probe_id", min_shared=3
        ).collect()
    )

    con = duckdb.connect()
    pq = os.path.join(SF_DIR, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')")
    sql = winnow_probe_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id < 60",
        "SELECT doc_id + 500000 AS probe_id, substr(text, 1, 120) AS text"
        " FROM documents WHERE doc_id < 60 AND doc_id % 9 = 0",
        k=8, w=4, min_shared=3,
    )
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want and got


def test_winnow_dup_pairs_lazy_form_matches_eager(spark):
    """lifecycle="lazy" must return the SAME pairs as a fully lazy plan —
    no persist, no localCheckpoint (nothing executes at build time), so
    the operator composes into larger lazy pipelines and plan tests."""
    from kartothek_spark.operators.dedup import winnow_dup_pairs

    corpus = _with_snips(_docs(spark, n=80))
    lazy = winnow_dup_pairs(corpus, k=8, w=4, min_shared=12, lifecycle="lazy")
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan  # a checkpoint would surface here
    assert _pairs(lazy) == _pairs(
        winnow_dup_pairs(corpus, k=8, w=4, min_shared=12)
    )


def test_stream_winnow_index_matches_batch(spark, tmp_path):
    """Streaming maintenance (build on batch 0, O(batch) appends after)
    must answer pair + probe queries exactly like one batch build over
    everything ingested."""
    from kartothek_spark.operators.winnow_index import (
        build_winnow_index,
        winnow_dup_pairs_indexed,
    )
    from kartothek_spark.streaming.update import stream_winnow_index

    corpus = _with_snips(_docs(spark)).localCheckpoint(eager=True)
    src = str(tmp_path / "src")
    corpus.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    root = str(tmp_path / "store")
    q = stream_winnow_index(
        stream, root, "swx", k=8, w=4, buckets=8,
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    assert q.awaitTermination(300), "stream did not drain"

    batch_root = str(tmp_path / "batch")
    build_winnow_index(spark, corpus, batch_root, "bwx", k=8, w=4, buckets=8)
    got = _pairs(winnow_dup_pairs_indexed(spark, root, "swx", min_shared=12))
    want = _pairs(winnow_dup_pairs_indexed(spark, batch_root, "bwx", min_shared=12))
    assert got == want and got
