"""Operator unit tests on small, hand-checkable inputs."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


@pytest.fixture()
def docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy cat"),
        Row(doc_id=3, text="The quick brown fox jumps over the lazy dog!"),  # exact dup of 1 modulo norm
        Row(doc_id=4, text="completely different content about spark engines"),
        Row(doc_id=5, text="der hund und die katze sind nicht da und das ist gut"),
    ]
    return spark.createDataFrame(rows)


def test_fingerprint_normalizes(spark, docs):
    from kartothek_spark.operators.text import fingerprint

    fps = {r.doc_id: r.fp for r in docs.select("doc_id", fingerprint("text").alias("fp")).collect()}
    assert fps[1] == fps[3]  # case/punct-insensitive
    assert fps[1] != fps[2]


def test_dedup_exact(spark, docs):
    from kartothek_spark.operators.dedup import dedup_exact

    out = dedup_exact(docs)
    ids = {r.doc_id for r in out.collect()}
    assert ids == {1, 2, 4, 5}  # doc 3 collapsed into 1


def test_cap_per_group_matches_naive_window(spark):
    """Two-phase cap == single-window selection, score ties broken by id."""
    from pyspark.sql import Window

    from kartothek_spark.operators.corpus import cap_per_group

    rows = [(i, f"g{i % 3}", (i * 7) % 5) for i in range(60)]  # heavy score ties
    df = spark.createDataFrame(rows, "doc_id long, source string, score long")
    got = {
        r["doc_id"]
        for r in cap_per_group(df, "source", 4, "score", shards=8).collect()
    }
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    want = {
        r["doc_id"]
        for r in df.withColumn("rn", F.row_number().over(w)).where("rn <= 4").collect()
    }
    assert got == want and len(got) == 12


def test_group_quantiles_exact_and_approx(spark):
    from kartothek_spark.operators.corpus import group_quantiles

    rows = [(i, "g", float(i)) for i in range(1, 101)]  # 1..100 in one group
    df = spark.createDataFrame(rows, "doc_id long, source string, v double")
    exact = group_quantiles(df, "source", "v", probs=(0.5, 0.95)).collect()[0]
    assert exact["p50"] == 50.5 and exact["p95"] == 95.05
    approx = group_quantiles(
        df, "source", "v", probs=(0.5, 0.95), approx_accuracy=10000
    ).collect()[0]
    # approx path: bounded state, answer within one rank of exact
    assert abs(approx["p50"] - 50.5) <= 1 and abs(approx["p95"] - 95.05) <= 1


def test_normalize_text(spark):
    from kartothek_spark.operators.text import normalize_text

    cases = {
        1: ("“Hi”\x00\x01  there\t—ok… ", '"Hi" there -ok.'),
        2: ("a b", "a b"),  # NBSP → plain space
        3: ("  x  y  ", "x y"),
        4: ("", ""),
        5: ("clean 'quoted' text", "clean 'quoted' text"),  # already-clean: identity
        6: ("‘a’–b", "'a'-b"),
    }
    df = spark.createDataFrame([(k, v[0]) for k, v in cases.items()], "i long, t string")
    got = {r["i"]: r["n"] for r in df.select("i", normalize_text("t").alias("n")).collect()}
    assert got == {k: v[1] for k, v in cases.items()}


def test_language_id(spark, docs):
    from kartothek_spark.operators.text import language_id

    langs = {r.doc_id: r.l for r in docs.select("doc_id", language_id("text").alias("l")).collect()}
    assert langs[1] == "en"
    assert langs[5] == "de"


def test_minhash_finds_near_dups(spark, docs):
    from kartothek_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs, threshold=0.3).collect()}
    assert (1, 3) in pairs  # identical after normalization
    assert all(4 not in p for p in pairs)  # unrelated doc never pairs


def test_simhash_identical_zero_hamming(spark, docs):
    from kartothek_spark.operators.dedup import simhash_pairs

    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(docs, max_hamming=10).collect()}
    assert pairs.get((1, 3)) == 0  # identical after normalization
    assert (1, 4) not in pairs and (4, 5) not in pairs  # unrelated docs stay apart


def test_ngram_jaccard(spark, docs):
    from kartothek_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.3, max_df=10).collect()}
    assert pairs.get((1, 3)) == 1.0
    assert (1, 4) not in pairs


def test_brute_force_topk_self_similarity(spark):
    from kartothek_spark.operators.similarity import brute_force_topk

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows)
    out = brute_force_topk(df, df.where(F.col("vec_id") == 0), k=2)
    got = [(r.neighbor_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got[0] == (1, 1)  # nearest is the almost-parallel vector


def test_lsh_bucket_deterministic(spark):
    from kartothek_spark.operators.similarity import lsh_bucket

    rows = [Row(vec_id=i, embedding=[float(i), 1.0, -1.0]) for i in range(4)]
    df = spark.createDataFrame(rows)
    a = df.select(lsh_bucket(F.col("embedding"), 3).alias("b")).collect()
    b = df.select(lsh_bucket(F.col("embedding"), 3).alias("b")).collect()
    assert [r.b for r in a] == [r.b for r in b]
    assert all(0 <= r.b < 256 for r in a)


def test_multimodal_feature_plumbing(spark, docs):
    from kartothek_spark.operators.multimodal import extract_features, make_media_df

    media = make_media_df(docs, "doc_id", "text", kind="image")
    assert [f.name for f in media.schema.fields] == ["media_id", "kind", "content", "meta"]
    feats = extract_features(media).collect()
    assert len(feats) == 5
    by_id = {r.media_id: r for r in feats}
    assert by_id[1].n_bytes == len("the quick brown fox jumps over the lazy dog")
    assert len(by_id[1].feature) == 8
    # deterministic featurizer
    feats2 = extract_features(media).collect()
    assert [r.feature for r in sorted(feats, key=lambda r: r.media_id)] == [
        r.feature for r in sorted(feats2, key=lambda r: r.media_id)
    ]


def test_multimodal_vectorized_featurizer_matches_scalar(spark):
    """The batched byte-histogram kernel (r10: one bincount per Arrow
    batch instead of a per-row Python loop) must reproduce the scalar
    ``_fake_feature`` bit-for-bit — including None, empty, shorter-than-
    dim, and stride-boundary blobs."""
    from pyspark.sql import Row

    from kartothek_spark.operators.multimodal import (
        _fake_feature,
        extract_features,
        make_media_df,
    )

    payloads = [
        None,
        "",
        "a",
        "abcdefg",          # len < dim
        "abcdefgh",         # len == dim
        "abcdefghi",        # one phase longer
        "the quick brown fox jumps over the lazy dog",
        "\x00\xff" * 33,    # high bytes, odd stride tail
        "x" * 1000,
    ]
    rows = [Row(doc_id=i, text=p) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    media = make_media_df(df, "doc_id", "text")
    got = {r.media_id: (r.n_bytes, r.feature) for r in extract_features(media).collect()}
    for i, p in enumerate(payloads):
        blob = None if p is None else p.encode("utf-8")
        want_nb = 0 if blob is None else len(blob)
        assert got[i][0] == want_nb, (i, got[i][0], want_nb)
        assert got[i][1] == _fake_feature(blob), (i, p)


def test_multimodal_decode_stub_raises(spark, docs):
    from kartothek_spark.operators.multimodal import extract_features, make_media_df
    from py4j.protocol import Py4JJavaError

    media = make_media_df(docs, "doc_id", "text")
    with pytest.raises(Exception):
        extract_features(media, decode_stub=False).collect()


def test_winnowing_guarantee_and_pair_detection(spark):
    """The MOSS guarantee: a shared substring of length >= k+w-1 chars
    yields at least one shared selected fingerprint; the pair miner
    flags the containing doc and not the unrelated one."""
    from kartothek_spark.operators.dedup import winnow_dup_pairs, winnow_fingerprints

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text="prefix padding words here " + base + " suffix trailing"),
        Row(doc_id=3, text="totally unrelated content regarding query planners shuffles"),
    ]
    df = spark.createDataFrame(rows)
    by = {}
    for r in winnow_fingerprints(df, k=8, w=4).collect():
        by.setdefault(r.doc_id, set()).add(r.fp)
    assert by[1] & by[2]
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_dup_pairs(df, k=8, w=4, min_shared=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 3
    assert not any(3 in p for p in pairs)


def test_media_dedup_exact_collapses_to_min_id(spark):
    from kartothek_spark.operators.multimodal import make_media_df, media_dedup_exact

    rows = [
        Row(doc_id=1, text="same payload"),
        Row(doc_id=2, text="same payload"),
        Row(doc_id=3, text="different payload"),
        Row(doc_id=9, text="same payload"),
    ]
    media = make_media_df(spark.createDataFrame(rows), "doc_id", "text")
    kept = {r["media_id"] for r in media_dedup_exact(media).collect()}
    assert kept == {1, 3}


def test_media_dup_pairs_flags_identical_payloads(spark):
    from kartothek_spark.operators.multimodal import make_media_df, media_dup_pairs

    rows = [
        Row(doc_id=1, text="abcdefgh" * 10),
        Row(doc_id=2, text="abcdefgh" * 10),  # identical -> cos 1.0
        Row(doc_id=3, text="zzzzzzzz" + "\x01\x02\x03" * 20),
    ]
    media = make_media_df(spark.createDataFrame(rows), "doc_id", "text")
    pairs = {(r["id_a"], r["id_b"]) for r in media_dup_pairs(media, threshold=0.9999).collect()}
    assert (1, 2) in pairs and not any(3 in p for p in pairs)


def test_binary_file_ingest_roundtrip(spark, tmp_path):
    """Directory of raw (non-UTF8) files → binaryFile source → managed
    dataset → read_table: content byte-exact, glob filtered at the
    source, recursion off by default, modificationTime never ingested."""
    from kartothek_spark.dataset.read import read_table
    from kartothek_spark.operators.multimodal import (
        ingest_binary_files,
        read_binary_files,
    )

    src = tmp_path / "media"
    (src / "sub").mkdir(parents=True)
    payloads = {f"{i}.bin": bytes([i, 0, 255, 254, i]) * (i + 1) for i in range(4)}
    for name, blob in payloads.items():
        (src / name).write_bytes(blob)
    (src / "notes.txt").write_text("excluded by glob")
    (src / "sub" / "9.bin").write_bytes(b"\x01\x02")

    flat = read_binary_files(spark, str(src), glob="*.bin")
    got = {r["file_name"]: bytes(r["content"]) for r in flat.collect()}
    assert got == payloads  # no .txt, no subdir without recursive=True

    rec = read_binary_files(spark, str(src), glob="*.bin", recursive=True)
    assert rec.count() == 5

    root = str(tmp_path / "store")
    ingest_binary_files(spark, root, "media_ds", str(src), glob="*.bin", kind="audio")
    back = read_table(spark, root, "media_ds")
    assert set(back.columns) == {"file_name", "n_bytes", "content", "kind"}
    rows = {r["file_name"]: r for r in back.collect()}
    assert {n: bytes(r["content"]) for n, r in rows.items()} == payloads
    assert all(r["n_bytes"] == len(payloads[n]) for n, r in rows.items())
    assert all(r["kind"] == "audio" for r in rows.values())


def test_sessionize(spark):
    import datetime

    from kartothek_spark.streaming.update import sessionize

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        Row(user_id=1, ts=t0, value=1.0),
        Row(user_id=1, ts=t0 + datetime.timedelta(minutes=10), value=1.0),
        Row(user_id=1, ts=t0 + datetime.timedelta(minutes=70), value=1.0),  # new session
        Row(user_id=2, ts=t0, value=1.0),
    ]
    out = sessionize(spark.createDataFrame(rows))
    sess = {(r.user_id, r.session_seq): r.n_events for r in out.collect()}
    assert sess == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_ivf_topk_full_probe_equals_brute_force(spark):
    import os

    from pyspark.sql import functions as F

    from kartothek_spark.operators.similarity import brute_force_topk, ivf_topk
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=3, dim=64)
    # probing every cell searches the whole corpus → identical result set
    ivf = ivf_topk(emb, queries, k=3, dim=64, n_centroids=4, nprobe=4)
    a = sorted(map(tuple, exact.collect()))
    b = sorted(map(tuple, ivf.collect()))
    assert a == b

    # partial probe: results are a (query-wise) subset drawn from probed
    # cells, ranks contiguous from 1, cosine within [-1, 1]
    part = ivf_topk(emb, queries, k=3, dim=64, n_centroids=4, nprobe=1)
    rows = part.collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
        assert -1.0 <= r.cos_sim <= 1.0
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_minhash_duplicate_cluster_bounded_candidates(spark):
    """Hot-band skew guard: a large exact-duplicate cluster must reach the
    banding self-join as ONE representative (not d copies per band), while
    the output still contains every intra-cluster pair at jaccard 1.0 plus
    cross-cluster near-dup pairs."""
    from kartothek_spark.operators.dedup import minhash_lsh_pairs

    d = 200
    boiler = "subscribe to our newsletter for daily updates about the weather"
    rows = [Row(doc_id=i, text=boiler) for i in range(d)]
    rows.append(Row(doc_id=d, text=boiler + " today"))  # near-dup of the cluster
    rows.append(Row(doc_id=d + 1, text="entirely unrelated content about spark plans"))
    docs = spark.createDataFrame(rows)

    out = minhash_lsh_pairs(docs, threshold=0.3).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out}
    # all d*(d-1)/2 intra-cluster pairs at exactly 1.0
    intra = [(a, b) for (a, b) in pairs if a < d and b < d]
    assert len(intra) == d * (d - 1) // 2
    assert all(pairs[p] == 1.0 for p in intra)
    # the near-dup pairs with EVERY cluster member at the same jaccard
    near = sorted((a, b) for (a, b) in pairs if b == d)
    assert len(near) == d
    assert len({pairs[p] for p in near}) == 1
    # unrelated doc never pairs
    assert all(d + 1 not in p for p in pairs)


def test_embedding_dup_pairs_blocked_equals_single_block(spark):
    """Block-matrix all-pairs must be EXACT: multi-block output equals the
    single-block (trivially exact) output, regardless of how ids hash into
    blocks — and the corpus never hits the driver."""
    import random

    from kartothek_spark.operators.similarity import embedding_dup_pairs

    rng = random.Random(7)
    rows = []
    for i in range(60):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append(Row(vec_id=i, embedding=[float(x) for x in base]))
        # planted near-dup: tiny perturbation keeps cos >= 0.95
        rows.append(
            Row(
                vec_id=1000 + i,
                embedding=[float(x + rng.uniform(-0.01, 0.01)) for x in base],
            )
        )
    df = spark.createDataFrame(rows)

    def pairs(blocks):
        out = embedding_dup_pairs(df, threshold=0.9, blocks=blocks).collect()
        return sorted((r.id_a, r.id_b, r.cos_sim) for r in out)

    exact = pairs(1)
    assert len(exact) >= 60  # every planted pair found
    assert pairs(5) == exact
    assert pairs(13) == exact


def test_simhash_duplicate_cluster_collapses_before_banding(spark):
    """Identical-fingerprint docs must reach the banding join as one
    representative; output still contains all intra-cluster pairs at
    hamming 0 plus cross pairs at the representatives' hamming."""
    from kartothek_spark.operators.dedup import simhash_pairs

    d = 150
    boiler = "identical boilerplate text shared by every mirror of this page"
    rows = [Row(doc_id=i, text=boiler) for i in range(d)]
    rows.append(Row(doc_id=d, text="utterly different content about query planners"))
    out = simhash_pairs(spark.createDataFrame(rows), max_hamming=5).collect()
    pairs = {(r.id_a, r.id_b): r.hamming for r in out}
    intra = [(a, b) for (a, b) in pairs if a < d and b < d]
    assert len(intra) == d * (d - 1) // 2
    assert all(pairs[p] == 0 for p in intra)
    assert all(d not in p for p in pairs)


def test_duplicate_clusters_chained_components(spark):
    """a~b and b~c must land a,b,c in ONE cluster even though a and c
    never paired directly; singletons outside the pair list don't appear."""
    from kartothek_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_duplicate_clusters_long_chain_converges(spark):
    from kartothek_spark.operators.dedup import duplicate_clusters

    n = 12  # path graph: worst-case diameter for the iteration count
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_apply_dedup_keeps_canonical_and_untouched(spark):
    """Corpus filter: min-id per cluster survives, other members drop,
    rows in no cluster pass through untouched."""
    from kartothek_spark.operators.dedup import apply_dedup

    corpus = spark.createDataFrame(
        [(i, f"text_{i}") for i in [1, 2, 3, 10, 11, 50]], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    kept = sorted(r.doc_id for r in apply_dedup(corpus, pairs).collect())
    assert kept == [1, 10, 50]


def test_sample_corpus_deterministic_and_partition_invariant(spark):
    """The keep-decision depends only on (salt, key): same rows kept on
    re-run and under any repartitioning — the property that makes corpus
    assembly reproducible across clusters and task retries."""
    from kartothek_spark.operators.corpus import sample_corpus

    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id for r in sample_corpus(df, 0.3).collect()}
    b = {r.doc_id for r in sample_corpus(df.repartition(17), 0.3).collect()}
    assert a == b
    assert 0.2 < len(a) / 2000 < 0.4
    # different salt → a different (but still deterministic) subset
    c = {r.doc_id for r in sample_corpus(df, 0.3, salt="other").collect()}
    assert c != a


def test_mix_corpus_rates_and_unknown_sources_drop(spark):
    from kartothek_spark.operators.corpus import mix_corpus

    rows = [(i, f"src{i % 4}") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mix_corpus(df, {"src0": 1.0, "src1": 0.5, "src2": 0.0})
    counts = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts.get("src0") == 1000          # weight 1.0 keeps everything
    assert 380 < counts.get("src1", 0) < 620   # ~half
    assert "src2" not in counts                # explicit zero drops all
    assert "src3" not in counts                # absent from weights drops all


def test_sample_corpus_rates_nest(spark):
    """Hash-threshold sampling is monotone in rate: raising the rate only
    ADDS rows (never swaps them) — rate sweeps yield nested corpora, so a
    10% pilot corpus is always a subset of the 30% production one."""
    from kartothek_spark.operators.corpus import sample_corpus

    df = spark.range(0, 3000).select(F.col("id").alias("doc_id"))
    s20 = {r.doc_id for r in sample_corpus(df, 0.2).collect()}
    s50 = {r.doc_id for r in sample_corpus(df, 0.5).collect()}
    s90 = {r.doc_id for r in sample_corpus(df, 0.9).collect()}
    assert s20 <= s50 <= s90


def test_asof_join_semantics(spark):
    """Backward as-of: latest right row at-or-before each left row per
    key; exact-timestamp ties match; no prior right row → NULLs."""
    import datetime as dt

    from kartothek_spark.operators.temporal import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, t(10), "a"), (1, t(20), "b"), (2, t(5), "c"), (1, t(2), "early")],
        "k long, ts timestamp, lv string",
    )
    right = spark.createDataFrame(
        [(1, t(10), 100.0), (1, t(15), 150.0), (2, t(9), 900.0)],
        "k long, ts timestamp, rv double",
    )
    got = {r.lv: r.rv for r in asof_join(left, right, on="ts", by="k").collect()}
    assert got == {
        "a": 100.0,       # tie at ts=10 matches (<= semantics)
        "b": 150.0,       # latest of the two priors
        "c": None,        # right row at t=9 is AFTER left t=5
        "early": None,    # nothing before
    }


def test_asof_join_guards(spark):
    import pytest as _pytest

    from kartothek_spark.operators.temporal import asof_join

    df = spark.createDataFrame([(1, 1, 2.0)], "k long, ts long, x double")
    with _pytest.raises(ValueError, match="collision"):
        asof_join(df, df, on="ts", by="k")
    with _pytest.raises(ValueError, match="direction"):
        asof_join(df, df.withColumnRenamed("x", "y"), on="ts", by="k", direction="sideways")


def test_asof_join_forward(spark):
    """Forward as-of: EARLIEST right row at-or-after each left row."""
    import datetime as dt

    from kartothek_spark.operators.temporal import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, t(10), "a"), (1, t(20), "b"), (2, t(5), "c"), (1, t(50), "late")],
        "k long, ts timestamp, lv string",
    )
    right = spark.createDataFrame(
        [(1, t(10), 100.0), (1, t(15), 150.0), (2, t(9), 900.0)],
        "k long, ts timestamp, rv double",
    )
    got = {
        r.lv: r.rv
        for r in asof_join(left, right, on="ts", by="k", direction="forward").collect()
    }
    assert got == {
        "a": 100.0,    # tie at ts=10 matches (>= semantics)
        "b": None,     # nothing after ts=20 for k=1
        "c": 900.0,    # earliest at-or-after t=5
        "late": None,
    }


def test_asof_join_keyless_matches_naive(spark):
    """Keyless as-of (range-partitioned prefix scan) == the naive python
    reference, for both directions, including matches that cross range-
    partition boundaries; plan uses the __pid window, never a global one."""
    import random

    from kartothek_spark.operators.temporal import asof_join

    rng = random.Random(7)
    lrows = sorted(rng.sample(range(0, 100_000), 400))
    rrows = sorted(rng.sample(range(0, 100_000), 120))
    left = spark.createDataFrame([(t, f"l{t}") for t in lrows], "ts long, lv string")
    right = spark.createDataFrame([(t, float(t)) for t in rrows], "ts long, rv double")

    for direction in ("backward", "forward"):
        out = asof_join(left, right, on="ts", direction=direction)
        assert "__pid" in out._jdf.queryExecution().executedPlan().toString()
        got = {r.lv: r.rv for r in out.collect()}

        def ref(t):
            cands = [r for r in rrows if (r <= t if direction == "backward" else r >= t)]
            if not cands:
                return None
            return float(max(cands) if direction == "backward" else min(cands))

        assert got == {f"l{t}": ref(t) for t in lrows}


def test_asof_join_struct_fill_row_consistent(spark):
    """A right row with a NULL payload value must NOT be patched with an
    older row's value — the joined columns come from one right row."""
    from kartothek_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 30, "x")], "k long, ts long, lv string")
    right = spark.createDataFrame(
        [(1, 10, 1.0, "old"), (1, 20, None, "new")],
        "k long, ts long, rv double, tag string",
    )
    row = asof_join(left, right, on="ts", by="k").collect()[0]
    assert row.tag == "new" and row.rv is None


def test_range_join_matches_naive_and_includes_boundaries(spark):
    """Bucketed range join == naive inequality join, including intervals
    spanning many buckets and points exactly on interval boundaries."""
    from kartothek_spark.operators.temporal import range_join

    points = spark.createDataFrame(
        [(1, 100, "p1"), (1, 3600, "p2"), (1, 5000, "p3"), (2, 100, "p4"), (1, 99, "p5")],
        "k long, ts long, pid string",
    )
    intervals = spark.createDataFrame(
        [(1, 100, 3600, "i1"),      # boundaries inclusive on both ends
         (1, 4000, 90000, "i2"),    # spans ~25 one-hour buckets
         (2, 0, 50, "i3")],         # no points inside
        "k long, s long, e long, iid string",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(
            points, intervals, on="ts", start="s", end="e", by="k", bucket_seconds=3600
        ).collect()
    }
    naive = {
        (p.pid, i.iid)
        for p in points.collect()
        for i in intervals.collect()
        if p.k == i.k and i.s <= p.ts <= i.e
    }
    assert got == naive == {("p1", "i1"), ("p2", "i1"), ("p3", "i2")}


def test_range_join_plans_as_equi_join(spark):
    """The whole point: the plan must be a hash equi-join on the bucket,
    never a broadcast-nested-loop / cartesian."""
    from kartothek_spark.operators.temporal import range_join

    points = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 7).alias("ts"))
    iv = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 50).alias("s"), (F.col("id") * 50 + 40).alias("e")
    )
    plan = range_join(points, iv, on="ts", start="s", end="e", by="k")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_heavy_hitters_exact_under_any_partitioning(spark):
    """MG candidates are a superset of true heavy hitters per theory; the
    exact recount then makes the output EXACTLY the > n/k set — and that
    must hold regardless of how rows land in partitions."""
    from kartothek_spark.operators.sketch import heavy_hitters

    # 'hot' appears 300/1000 docs, 'warm' 100, the rest is a long tail of
    # unique tokens — k=8 → threshold n/8
    rows = []
    for i in range(1000):
        word = "hot" if i % 10 < 3 else ("warm" if i % 10 == 3 else f"tail{i}")
        rows.append((i, f"{word} filler{i % 7}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def exact(k):
        toks = df.selectExpr("explode(split(lower(text), '[^a-z0-9]+')) AS t").where("t <> ''")
        total = toks.count()
        return {
            (r.t, r.c)
            for r in toks.groupBy("t").agg(F.count("*").alias("c")).collect()
            if r.c * k > total
        }

    for parts in (1, 7, 32):
        got = {
            (r.token, r.n_occurrences)
            for r in heavy_hitters(df.repartition(parts), k=8).collect()
        }
        assert got == exact(8) and ("hot", 300) in got


def test_split_corpus_partitions_exhaustively_and_stably(spark):
    """Every row gets exactly one split; the assignment is identical
    under repartitioning; corpus growth never moves an existing row; and
    observed fractions track the requested ones."""
    import pytest as _pytest

    from kartothek_spark.operators.corpus import split_corpus

    fr = {"train": 0.8, "valid": 0.1, "test": 0.1}
    df = spark.range(0, 4000).select(F.col("id").alias("doc_id"))
    out = split_corpus(df, fr)
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 4000 and set(counts) == {"train", "valid", "test"}
    assert 0.75 < counts["train"] / 4000 < 0.85
    a = {r.doc_id: r.split for r in out.collect()}
    b = {r.doc_id: r.split for r in split_corpus(df.repartition(13), fr).collect()}
    assert a == b
    grown = split_corpus(
        spark.range(0, 8000).select(F.col("id").alias("doc_id")), fr
    )
    c = {r.doc_id: r.split for r in grown.where(F.col("doc_id") < 4000).collect()}
    assert c == a  # growth never reassigns existing rows
    with _pytest.raises(ValueError, match="sum to 1"):
        split_corpus(df, {"train": 0.5, "test": 0.4})


def test_repetition_signals_hand_checked(spark):
    """Hand-computed Gopher-style repetition ratios on tiny docs."""
    from kartothek_spark.operators.text import repetition_signals

    rows = [
        # 6 tokens, "a b" occurs 3x as top bigram ("a b a b a b"):
        # top bigram chars = 3 * len("a b") = 9 over 11 chars
        Row(doc_id=1, text="a b a b a b"),
        # no repetition at all; fewer than 5 tokens → dup_5gram 0
        Row(doc_id=2, text="one two three"),
        # 10 tokens = "x y z w v" twice → every 5-gram occurring twice:
        # dup 5-grams: "x y z w v" occurs 2x (9 chars each)
        Row(doc_id=3, text="x y z w v x y z w v"),
    ]
    df = spark.createDataFrame(rows)
    got = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert got[1].top_token_ratio == 0.5  # "a" 3/6
    assert got[1].top_bigram_ratio == round(9 / 11, 6)
    # its two 5-grams ("a b a b a", "b a b a b") are distinct → no dup
    assert got[1].dup_5gram_ratio == 0.0
    assert got[2].top_token_ratio == round(1 / 3, 6)
    assert got[2].dup_5gram_ratio == 0.0
    assert got[3].top_token_ratio == 0.2
    # "x y z w v" repeats; at least that gram's 2*9=18 chars over 19
    assert got[3].dup_5gram_ratio >= round(18 / 19, 6)


def test_contamination_flags_only_overlapping_docs(spark):
    from kartothek_spark.operators.contamination import contamination_hits, decontaminate

    bench = spark.createDataFrame(
        [Row(doc_id=100, text="the capital of france is paris and it is large")]
    )
    train = spark.createDataFrame(
        [
            # contains the benchmark 8-gram verbatim
            Row(doc_id=1, text="trivia: the capital of france is paris and it is large indeed"),
            Row(doc_id=2, text="a completely unrelated training document about spark planning"),
            # shares words but no 8-gram run
            Row(doc_id=3, text="paris is the capital city people say of france"),
        ]
    )
    hits = {r.doc_id: r.n_hits for r in contamination_hits(train, bench, n=8).collect()}
    assert 1 in hits and hits[1] >= 1
    assert 2 not in hits and 3 not in hits
    clean = {r.doc_id for r in decontaminate(train, bench, n=8).collect()}
    assert clean == {2, 3}

    # eval-side mirror: the compromised benchmark item is attributed to
    # exactly the one training doc that leaks it
    from kartothek_spark.operators.contamination import benchmark_contamination_report

    report = {
        r.bench_id: (r.n_train_docs, r.n_shared_shingles)
        for r in benchmark_contamination_report(train, bench, n=8).collect()
    }
    assert set(report) == {100}
    n_docs, n_sh = report[100]
    assert n_docs == 1 and n_sh >= 1


def test_pack_corpus_bins_respect_budget_and_determinism(spark):
    """Every bin's docs start inside the budget window, offsets equal the
    running sum within (shard, bin) layout order, and the assignment is
    invariant to input partitioning."""
    from kartothek_spark.operators.corpus import pack_corpus

    rows = [(i, "tok " * (5 + i % 17)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_corpus(df, budget_tokens=64, shards=4).collect()
    assert len(out) == 300
    for r in out:
        assert 0 <= r.bin_offset < 64
        assert r.bin_id >> 32 == r.shard
    out2 = pack_corpus(df.repartition(13), budget_tokens=64, shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # per (shard, bin): exactly one doc starts at each running-sum point —
    # recompute the layout independently
    import collections

    by_shard = collections.defaultdict(list)
    for r in out:
        by_shard[r.shard].append(r)
    for shard, rs in by_shard.items():
        rs = sorted(rs, key=lambda r: (r.bin_id, r.bin_offset))
        start = 0
        for r in rs:
            assert (r.bin_id & 0xFFFFFFFF) == start // 64
            assert r.bin_offset == start % 64
            start += r.n_tokens


def test_upsample_corpus_epoch_weights(spark):
    """Weight 3.0 → exactly 3 copies each; 0.5 → about half, one copy;
    fractional >1 → floor(w) full copies plus a hash-gated extra."""
    from kartothek_spark.operators.corpus import upsample_corpus

    rows = [(i, f"src{i % 3}") for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = upsample_corpus(df, {"src0": 3.0, "src1": 0.5, "src2": 1.75}).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault((r.source, r.doc_id), []).append(r.epoch)
    n0 = sum(len(v) for (s, _), v in per_doc.items() if s == "src0")
    n1 = sum(len(v) for (s, _), v in per_doc.items() if s == "src1")
    n2 = sum(len(v) for (s, _), v in per_doc.items() if s == "src2")
    assert n0 == 3000  # every src0 doc exactly 3x
    assert all(sorted(v) == [0, 1, 2] for (s, _), v in per_doc.items() if s == "src0")
    assert 400 < n1 < 600  # ~0.5 of 1000, single epoch 0
    assert all(v == [0] for (s, _), v in per_doc.items() if s == "src1")
    # src2: every doc has epoch 0, ~75% also epoch 1
    assert all(0 in v for (s, _), v in per_doc.items() if s == "src2")
    assert 1600 < n2 < 1900
    # determinism under repartitioning
    out2 = upsample_corpus(df.repartition(7), {"src0": 3.0, "src1": 0.5, "src2": 1.75}).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_scrub_pii_redacts_all_classes(spark):
    from kartothek_spark.operators.text import scrub_pii

    rows = [
        Row(doc_id=1, text="mail me at alice.smith+x@corp.example.org thanks"),
        Row(doc_id=2, text="server 10.0.0.1 and 192.168.001.255 are up"),
        Row(doc_id=3, text="ssn 123-45-6789 and phone +1 415 555 0100"),
        Row(doc_id=4, text="nothing sensitive here at all"),
    ]
    got = {r.doc_id: r for r in scrub_pii(spark.createDataFrame(rows)).collect()}
    assert got[1].n_email == 1 and "<EMAIL>" in got[1].text_scrubbed
    assert "alice" not in got[1].text_scrubbed
    assert got[2].n_ip == 2 and got[2].text_scrubbed.count("<IP>") == 2
    assert got[3].n_ssn == 1 and got[3].n_phone == 1
    assert "<ID>" in got[3].text_scrubbed and "<PHONE>" in got[3].text_scrubbed
    assert got[4].text_scrubbed == "nothing sensitive here at all"
    assert got[4].n_email == got[4].n_ip == got[4].n_ssn == got[4].n_phone == 0


def test_bm25_ranks_relevance_and_breaks_ties(spark):
    from kartothek_spark.operators.search import bm25_search

    rows = [
        Row(doc_id=1, text="spark spark spark engine"),
        Row(doc_id=2, text="spark engine"),
        Row(doc_id=3, text="engine only here"),
        Row(doc_id=4, text="totally unrelated words"),
        Row(doc_id=5, text="spark engine"),  # tie with 2 → id order
    ]
    out = bm25_search(spark.createDataFrame(rows), ["spark"], k=10).collect()
    ids = [r.doc_id for r in out]
    assert ids[0] == 1          # highest tf wins
    assert ids[1:] == [2, 5]    # tie broken by id; non-matching docs absent
    assert out[0].score > out[1].score
    assert out[1].score == out[2].score
    # determinism under repartitioning (float fold order is pinned)
    df = spark.createDataFrame(rows)
    a = [tuple(r) for r in bm25_search(df, ["spark", "engine"], k=10).collect()]
    b = [tuple(r) for r in bm25_search(df.repartition(7), ["spark", "engine"], k=10).collect()]
    assert a == b


def test_rrf_fuse_hand_computed(spark):
    """RRF arithmetic against hand-computed scores: list order, absent-list
    zero contribution, rounding, and id tie-break."""
    from kartothek_spark.operators.search import rrf_fuse

    l1 = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank long")
    l2 = spark.createDataFrame([(2, 1), (4, 2)], "doc_id long, rank long")
    out = rrf_fuse([l1, l2], k=10, rrf_k=60).collect()
    got = {r.doc_id: (r.rrf_score, r.rank) for r in out}
    assert got[2] == (round(1 / 62 + 1 / 61, 6), 1)
    assert got[1] == (round(1 / 61, 6), 2)
    assert got[4] == (round(1 / 62, 6), 3)
    assert got[3] == (round(1 / 63, 6), 4)
    # k truncation
    assert [r.doc_id for r in rrf_fuse([l1, l2], k=2, rrf_k=60).collect()] == [2, 1]
    with pytest.raises(ValueError):
        rrf_fuse([], k=2)


def test_hybrid_search_fuses_both_legs(spark):
    """A doc that is mediocre in each leg but present in both must outrank
    docs that only one retriever surfaces."""
    import numpy as np

    from kartothek_spark.operators.search import hybrid_search

    rng = np.random.default_rng(11)
    docs, vecs = [], []
    for i in range(12):
        text = "spark engine " * (12 - i) + "filler words galore"
        docs.append(Row(doc_id=i, text=text))
        v = rng.normal(size=8)
        vecs.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    # make vec 5 the near-duplicate of the query vector (id 0)
    vecs[5] = Row(vec_id=5, embedding=[x + 0.01 for x in vecs[0].embedding])
    ddf, vdf = spark.createDataFrame(docs), spark.createDataFrame(vecs)
    out = hybrid_search(
        ddf, vdf, ["spark"], query_vec_id=0, k=12, depth=5, dim=8
    ).collect()
    ranks = {r.doc_id: r.rank for r in out}
    # the dense near-duplicate must surface even though it is lexically weak
    assert 5 in ranks

    # wiring oracle: run each leg separately and fuse in plain Python
    from kartothek_spark.operators.search import bm25_search
    from kartothek_spark.operators.similarity import brute_force_topk

    bm = {r.doc_id: r.rank for r in bm25_search(ddf, ["spark"], k=5).collect()}
    vec = {
        r.neighbor_id: r.rank
        for r in brute_force_topk(
            vdf, vdf.where("vec_id = 0"), k=5, dim=8
        ).collect()
    }
    expected = {}
    for d in set(bm) | set(vec):
        expected[d] = round(
            (1 / (60 + bm[d]) if d in bm else 0.0)
            + (1 / (60 + vec[d]) if d in vec else 0.0),
            6,
        )
    order = sorted(expected, key=lambda d: (-expected[d], d))
    assert [(r.doc_id, r.rrf_score) for r in out] == [
        (d, expected[d]) for d in order
    ]
    # deterministic under repartition
    a = [tuple(r) for r in out]
    b = [
        tuple(r)
        for r in hybrid_search(
            spark.createDataFrame(docs).repartition(5),
            spark.createDataFrame(vecs).repartition(3),
            ["spark"],
            query_vec_id=0,
            k=12,
            depth=5,
            dim=8,
        ).collect()
    ]
    assert a == b


def test_knn_join_equals_brute_force_any_blocking(spark):
    """knn_join (both sides distributed, block-matrix) must equal
    brute_force_topk (broadcast-queries) for the same query set, for any
    block partitioning — including the degenerate single-block case."""
    import os

    from kartothek_spark.operators.similarity import brute_force_topk, knn_join
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = emb.where(F.col("vec_id") % 29 == 0)
    exact = sorted(map(tuple, brute_force_topk(emb, queries, k=4, dim=64).collect()))
    for tbr in (100_000, 64):  # 1 block vs many blocks
        got = sorted(map(tuple, knn_join(queries, emb, k=4, target_block_rows=tbr).collect()))
        assert got == exact, f"target_block_rows={tbr}"


def test_knn_join_self_exclusion_and_asymmetric_sides(spark):
    from kartothek_spark.operators.similarity import knn_join

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1]),
        Row(vec_id=2, embedding=[0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows)
    out = knn_join(df, df, k=3).collect()
    assert all(r.query_id != r.neighbor_id for r in out)
    # include_self: the nearest neighbor of each row is itself at cos 1.0
    out2 = knn_join(df, df, k=1, exclude_self=False).collect()
    assert {(r.query_id, r.neighbor_id) for r in out2} == {(0, 0), (1, 1), (2, 2)}
    # asymmetric: right side restricted → neighbors only from the subset
    out3 = knn_join(df, df.where("vec_id = 2"), k=2).collect()
    assert all(r.neighbor_id == 2 for r in out3)
    assert {r.query_id for r in out3} == {0, 1}


def test_diversity_sample_quota_and_stability(spark):
    """Per-bucket quota is enforced; selection is stable under corpus
    growth: adding rows never evicts a survivor unless its own bucket is
    over quota, and survivors of the grown corpus restricted to the old
    ids are a subset of the old survivors' buckets' top picks."""
    import os

    from kartothek_spark.operators.similarity import diversity_sample
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    out = diversity_sample(emb, quota=5, dim=64, planes=4, keep_bucket=True)
    counts = out.groupBy("bucket").count().collect()
    assert all(r["count"] <= 5 for r in counts)
    # determinism across runs
    a = sorted(r.vec_id for r in out.collect())
    b = sorted(
        r.vec_id
        for r in diversity_sample(emb, quota=5, dim=64, planes=4).select("vec_id").collect()
    )
    assert a == b
    # growth stability: sampling a half-corpus then the full corpus — every
    # half-corpus survivor that is still hash-small enough survives; no
    # reshuffling of unrelated buckets
    half = emb.where("vec_id % 2 = 0")
    s_half = {r.vec_id for r in diversity_sample(half, quota=5, dim=64, planes=4).select("vec_id").collect()}
    s_full = {r.vec_id for r in diversity_sample(emb, quota=5, dim=64, planes=4).select("vec_id").collect()}
    # survivors dropped from half→full must be displaced by new (odd) ids only
    assert s_half - s_full <= s_half  # sanity
    dropped = s_half - s_full
    # every dropped even id's bucket must now contain an odd id in the full sample
    if dropped:
        out_full = diversity_sample(emb, quota=5, dim=64, planes=4, keep_bucket=True)
        by_bucket = {}
        for r in out_full.collect():
            by_bucket.setdefault(r.bucket, set()).add(r.vec_id)
        out_half = diversity_sample(half, quota=5, dim=64, planes=4, keep_bucket=True)
        half_bucket = {r.vec_id: r.bucket for r in out_half.collect()}
        for vid in dropped:
            assert any(x % 2 == 1 for x in by_bucket[half_bucket[vid]])


def test_duplicated_spans_hand_checked(spark):
    """Hand-built corpus: a 12-token span shared verbatim by docs 1 and 2
    (inside different surroundings) is flagged; doc 3 shares nothing."""
    from kartothek_spark.operators.dedup import duplicated_spans

    span = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    rows = [
        Row(doc_id=1, text=f"intro one two three {span} outro"),
        Row(doc_id=2, text=f"different start {span} and a different ending here"),
        Row(doc_id=3, text="completely unrelated content with no overlap at all "
                           "padded padded padded padded padded padded padded"),
    ]
    out = {r.doc_id: r for r in duplicated_spans(
        spark.createDataFrame(rows), window_tokens=12).collect()}
    assert out[1].n_dup_windows >= 1 and out[2].n_dup_windows >= 1
    assert out[3].n_dup_windows == 0 and out[3].dup_ppm == 0
    for r in out.values():
        assert 0 <= r.dup_ppm <= 1_000_000
        assert r.dup_ppm == r.n_dup_windows * 1_000_000 // r.n_windows


def test_trim_duplicated_spans_canonical_keeps_text(spark):
    from kartothek_spark.operators.dedup import trim_duplicated_spans

    span = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    rows = [
        Row(doc_id=1, text=f"one two {span} three"),
        Row(doc_id=2, text=f"prefix words {span} suffix words here"),
        Row(doc_id=3, text="totally different text padded padded padded padded "
                           "padded padded padded padded"),
    ]
    out = {r.doc_id: r for r in trim_duplicated_spans(
        spark.createDataFrame(rows), window_tokens=12).collect()}
    # canonical doc (min id) keeps everything
    assert out[1].n_removed == 0
    assert "alpha" in out[1].text_trimmed and "lima" in out[1].text_trimmed
    # the other doc loses exactly the span tokens; its own words survive
    assert out[2].n_removed >= 12
    assert "alpha" not in out[2].text_trimmed and "charlie" not in out[2].text_trimmed
    for word in ("prefix", "words", "suffix", "here"):
        assert word in out[2].text_trimmed
    # untouched doc is fully preserved (token-normalized rendering)
    assert out[3].n_removed == 0
    assert out[3].text_trimmed.startswith("totally different text")


def test_chunk_corpus_covers_every_token_and_overlaps(spark):
    """Every token position is covered; consecutive chunks share exactly
    `overlap` tokens (except the final short chunk); short docs yield one
    chunk equal to their whole (normalized) text."""
    import os

    from pyspark.sql import functions as F

    from kartothek_spark.functions.hashing import tokens
    from kartothek_spark.operators.corpus import chunk_corpus
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).limit(100)
    chunks = chunk_corpus(docs, chunk_tokens=32, overlap=8).collect()
    toks = {
        r.doc_id: r.t
        for r in docs.select("doc_id", tokens(F.col("text")).alias("t")).collect()
    }
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    step = 32 - 8
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        t = toks[doc_id]
        assert [r.chunk_id for r in rows] == list(range(len(rows)))
        rebuilt = []
        for r in rows:
            ct = r.chunk_text.split(" ") if r.chunk_text else []
            assert len(ct) == r.n_tokens
            start = r.chunk_id * step
            assert ct == t[start : start + 32]
            rebuilt = rebuilt[:start] + ct
        assert rebuilt == t


def test_funnel_counts_monotone_and_hand_checked(spark):
    """Funnel on a hand-built event log: exact stage membership."""
    import datetime as dt

    from kartothek_spark.operators.temporal import funnel

    def e(u, t, et):
        return (u, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=t), et)

    rows = [
        # u1 completes in order
        e(1, 0, "view"), e(1, 5, "click"), e(1, 9, "purchase"),
        # u2 clicks BEFORE viewing → stops at view
        e(2, 3, "click"), e(2, 4, "view"),
        # u3 views + clicks, purchase before click → stops at click
        e(3, 0, "view"), e(3, 1, "purchase"), e(3, 2, "click"),
        # u4 only purchases
        e(4, 0, "purchase"),
        # u5: first click precedes view, second click after → full funnel
        e(5, 0, "click"), e(5, 1, "view"), e(5, 2, "click"), e(5, 3, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r.step_index: r.n_users
        for r in funnel(df, ["view", "click", "purchase"]).collect()
    }
    # view: u1,u2,u3,u5; view→click: u1,u3,u5; full: u1,u5
    assert got == {1: 4, 2: 3, 3: 2}


def test_chunk_corpus_reconstruction_any_params(spark):
    """Property: for ANY (chunk_tokens, overlap) the chunk set tiles the
    token stream exactly — stitching chunks at their offsets reproduces
    every document's token list."""
    import os

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from kartothek_spark.functions.hashing import tokens
    from kartothek_spark.operators.corpus import chunk_corpus
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).limit(40)
    toks = {
        r.doc_id: r.t
        for r in docs.select("doc_id", tokens(F.col("text")).alias("t")).collect()
    }

    @settings(
        max_examples=8, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        chunk=st.integers(2, 64),
        overlap_frac=st.floats(0.0, 0.9),
    )
    def prop(chunk, overlap_frac):
        overlap = min(int(chunk * overlap_frac), chunk - 1)
        step = chunk - overlap
        rows = chunk_corpus(docs, chunk_tokens=chunk, overlap=overlap).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        for doc_id, rs in by_doc.items():
            rs.sort(key=lambda r: r.chunk_id)
            t = toks[doc_id]
            rebuilt = []
            for r in rs:
                ct = r.chunk_text.split(" ") if r.chunk_text else []
                assert len(ct) == r.n_tokens <= chunk
                start = r.chunk_id * step
                assert ct == t[start : start + chunk]
                rebuilt = rebuilt[:start] + ct
            assert rebuilt == t

    prop()


def test_asof_join_nearest_matches_pandas(spark):
    """direction='nearest' (keyed, keyless, and with tolerance) against
    pandas merge_asof as an independent oracle; exact-distance ties are
    excluded from the pandas comparison (tie policy is implementation-
    defined there) and pinned separately to OUR documented rule:
    equidistant → the backward match."""
    import random

    import pandas as pd

    rng = random.Random(11)
    lrows, rrows = [], []
    seen = set()
    for i in range(400):
        k = rng.randint(0, 4)
        lrows.append((k, rng.randint(0, 10000), i))
    for k in range(5):
        for _ in range(80):
            t = rng.randint(0, 10000)
            if (k, t) not in seen:
                seen.add((k, t))
                rrows.append((k, t, float(k * 100000 + t)))
    left = spark.createDataFrame(lrows, "k long, ts long, lid long")
    right = spark.createDataFrame(rrows, "k long, ts long, rv double")
    from kartothek_spark.operators.temporal import asof_join

    lp = pd.DataFrame(lrows, columns=["k", "ts", "lid"]).sort_values("ts")
    rp = pd.DataFrame(rrows, columns=["k", "ts", "rv"]).sort_values("ts")

    # drop left rows with an exact-distance tie (policy differs engines)
    def tied(row):
        ds = sorted(abs(rt - row.ts) for (kk, rt, _) in rrows if kk == row.k)
        return len(ds) > 1 and ds[0] == ds[1]

    untied = {r.lid for r in lp.itertuples() if not tied(r)}

    for kw in ({"by": "k"}, {"by": "k", "tolerance": 200}):
        got = {
            r["lid"]: r["rv"]
            for r in asof_join(left, right, on="ts", direction="nearest", **kw).collect()
        }
        exp_df = pd.merge_asof(
            lp, rp, on="ts", by="k", direction="nearest",
            tolerance=kw.get("tolerance"),
        )
        exp = {int(r.lid): (None if pd.isna(r.rv) else r.rv) for r in exp_df.itertuples()}
        assert {i: got[i] for i in untied} == {i: exp[i] for i in untied}

    # keyless: single key slice through the prefix-scan path
    l1 = left.where("k = 2").drop("k")
    r1 = right.where("k = 2").drop("k")
    got1 = {r["lid"]: r["rv"] for r in asof_join(l1, r1, on="ts", direction="nearest").collect()}
    exp1_df = pd.merge_asof(
        lp[lp.k == 2].drop(columns="k"), rp[rp.k == 2].drop(columns="k"),
        on="ts", direction="nearest",
    )
    exp1 = {int(r.lid): r.rv for r in exp1_df.itertuples()}
    k2_untied = {i for i in untied if i in got1}
    assert {i: got1[i] for i in k2_untied} == {i: exp1[i] for i in k2_untied}

    # documented tie rule: equidistant -> backward
    lt = spark.createDataFrame([(0, 5, 1)], "k long, ts long, lid long")
    rt = spark.createDataFrame(
        [(0, 2, 20.0), (0, 8, 80.0)], "k long, ts long, rv double"
    )
    tie = asof_join(lt, rt, on="ts", by="k", direction="nearest").collect()[0]
    assert tie["rv"] == 20.0


def test_asof_join_keyed_skew(spark):
    """One key holding 90% of the rows must complete with exact results
    through the keyed window (linear single-task scan of the hot key's
    timeline — the documented stance in asof_join's docstring) and the
    plan must shuffle ONCE on the by-key, with the hot-slice escape hatch
    (keyless prefix scan on the hot key) agreeing with the keyed answer."""
    from pyspark.sql import functions as F

    from kartothek_spark.operators.temporal import asof_join

    n = 50_000
    left = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot"))
        .otherwise(F.concat(F.lit("c"), (F.col("id") % 3).cast("string")))
        .alias("k"),
        F.col("id").alias("ts"),
        F.col("id").alias("lv"),
    )
    keys = [("hot",), ("c0",), ("c1",), ("c2",)]
    grid = spark.createDataFrame(keys, "k string").crossJoin(
        spark.range(0, n, 100).select((F.col("id")).alias("ts"))
    )
    right = grid.select("k", "ts", F.col("ts").alias("rv"))

    joined = asof_join(left, right, on="ts", by="k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(k" in plan  # the one keyed shuffle
    # every left ts matches the floor-to-100 right row of ITS key
    bad = joined.where(
        F.col("rv").isNull() | (F.col("rv") != (F.col("ts") - F.col("ts") % 100))
    ).count()
    assert bad == 0
    assert joined.count() == n

    # hot-slice escape hatch: keyless prefix scan over the hot key only
    # must agree exactly with the keyed window's hot-key slice
    hot_keyless = asof_join(
        left.where(F.col("k") == "hot").drop("k"),
        right.where(F.col("k") == "hot").drop("k"),
        on="ts",
        by=None,
    )
    mism = (
        hot_keyless.select("ts", F.col("rv").alias("rv2"))
        .join(joined.where(F.col("k") == "hot"), "ts")
        .where(F.col("rv2") != F.col("rv"))
        .count()
    )
    assert mism == 0


def test_hybrid_search_dense_leg_switch(spark):
    """dense="lsh"/"ivf" route the dense leg through the ANN operators
    (the past-brute-force scale path) and still return a full fused
    top-k; an unknown selector raises."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from kartothek_spark.operators.search import hybrid_search
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    for dense in ("lsh", "ivf"):
        got = hybrid_search(
            docs, emb, ["data", "model"], query_vec_id=7, k=5, depth=20,
            dim=64, dense=dense,
        )
        rows = got.collect()
        assert len(rows) == 5
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
    with pytest.raises(ValueError, match="dense"):
        hybrid_search(docs, emb, ["data"], query_vec_id=7, dense="nope")


def test_lsh_batch_matches_expression(spark):
    """The Arrow-batched LSH index pass must produce bit-identical
    buckets AND quantized vectors to the lsh_bucket / quantize column
    expressions (the SQL-twin rendering) — the j-sequential accumulation
    contract."""
    import os

    from pyspark.sql import functions as F

    from kartothek_spark.operators.similarity import (
        _lsh_index_side,
        lsh_bucket,
        quantize,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).limit(300)
    tables, planes = 6, 4
    batch = {
        (r["neighbor_id"], r["__t"]): (tuple(r["__cq"]), r["__b"])
        for r in _lsh_index_side(
            emb, "vec_id", "embedding", 64, planes, tables, "neighbor_id", "__cq"
        ).collect()
    }
    expr = {}
    for t in range(tables):
        for r in emb.select(
            "vec_id",
            quantize(F.col("embedding")).alias("q"),
            lsh_bucket(F.col("embedding"), 64, planes, table=t).alias("b"),
        ).collect():
            expr[(r.vec_id, t)] = (tuple(r.q), r.b)
    assert batch == expr


# ---------------------------------------------------------------------------
# edit-distance pairs / fuzzy join
# ---------------------------------------------------------------------------

def _lev(a: str, b: str) -> int:
    """Reference DP Levenshtein for brute-force oracles."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.mark.parametrize("max_dist", [1, 2])
def test_edit_distance_pairs_complete_vs_bruteforce(spark, max_dist):
    """The deletion-neighborhood blocking must be COMPLETE: over random
    short strings on a tiny alphabet (dense near-miss space), the operator
    equals the quadratic brute force exactly — no missed pair, no false
    pair, correct distances. Includes empty and 1-char strings."""
    import random

    from kartothek_spark.operators.dedup import edit_distance_pairs

    rng = random.Random(20260815 + max_dist)
    rows = [(i, "".join(rng.choice("abc") for _ in range(rng.randint(0, 8))))
            for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, k string")
    got = sorted(
        tuple(r)
        for r in edit_distance_pairs(
            df, max_dist=max_dist, string_col="k", id_col="doc_id"
        ).collect()
    )
    want = sorted(
        (ia, ib, _lev(sa, sb))
        for ia, sa in rows
        for ib, sb in rows
        if ia < ib and _lev(sa, sb) <= max_dist
    )
    assert got == want


def test_fuzzy_join_matches_bruteforce(spark):
    import random

    from kartothek_spark.operators.dedup import fuzzy_join

    rng = random.Random(7)
    left = [(i, "".join(rng.choice("ab") for _ in range(rng.randint(1, 6))))
            for i in range(60)]
    right = [(i, "".join(rng.choice("ab") for _ in range(rng.randint(1, 6))))
             for i in range(40)]
    ldf = spark.createDataFrame(left, "lid long, k string")
    rdf = spark.createDataFrame(right, "rid long, q string")
    got = sorted(
        tuple(r)
        for r in fuzzy_join(
            ldf, rdf, max_dist=1, left_on="k", right_on="q",
            left_id="lid", right_id="rid",
        ).collect()
    )
    want = sorted(
        (il, ir, _lev(sl, sr))
        for il, sl in left
        for ir, sr in right
        if _lev(sl, sr) <= 1
    )
    assert got == want


@pytest.mark.parametrize("max_dist", [1, 2])
def test_deletion_block_hashes_match_delete_reference(spark, max_dist):
    """The r10 prefix/suffix variant hashing (B⁻¹ mod 2^64 recombination)
    must emit exactly the np.delete-and-dot reference multiset per key —
    the blocking's completeness proof rides on these values."""
    import numpy as np
    from pyspark.sql import Row

    from kartothek_spark.operators.dedup import _deletion_blocks

    max_len = 48
    keys = ["", "a", "ab", "abca", "the quick brown fox!", "xyzw" * 6, "\x01\x7f mix 42"]
    df = spark.createDataFrame(
        [Row(__id=i, __s=s) for i, s in enumerate(keys)], "__id long, __s string"
    )
    got: dict[int, list[int]] = {i: [] for i in range(len(keys))}
    for r in _deletion_blocks(df, max_dist, max_len).collect():
        got[r["__id"]].append(int(r["__blk"]))

    B = np.uint64(1099511628211)
    with np.errstate(over="ignore"):
        powers = np.empty(max_len + 1, dtype=np.uint64)
        powers[0] = np.uint64(1)
        for p in range(1, max_len + 1):
            powers[p] = powers[p - 1] * B

    def ref(s):
        L = len(s)
        M = np.array([[ord(c) for c in s]], dtype=np.uint64).reshape(1, L)
        cuts = [()]
        if L >= 1:
            cuts += [(i,) for i in range(L)]
        if max_dist == 2 and L >= 2:
            cuts += [(i, j) for i in range(L - 1) for j in range(i + 1, L)]
        out = []
        with np.errstate(over="ignore"):
            for cut in cuts:
                V = np.delete(M, cut, axis=1) if cut else M
                out.append(int(np.int64((V @ powers[: V.shape[1]])[0])))
        return sorted(out)

    for i, s in enumerate(keys):
        assert sorted(got[i]) == ref(s), (i, s)


def test_edit_distance_pairs_guards(spark):
    from kartothek_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame([(1, "x" * 60), (2, "y")], "doc_id long, k string")
    jmap = spark.sparkContext._jsc.getPersistentRDDs
    before = set(jmap().keySet().toArray())
    with pytest.raises(Exception, match="max_len"):
        edit_distance_pairs(df, string_col="k", id_col="doc_id").collect()
    # the guard raises inside the checkpoint job: the pins must still be
    # released (no new persisted RDD outlives the failure)
    assert set(jmap().keySet().toArray()) <= before
    with pytest.raises(ValueError, match="max_dist"):
        edit_distance_pairs(df, max_dist=3, string_col="k", id_col="doc_id")
    with pytest.raises(ValueError, match="lifecycle"):
        edit_distance_pairs(df, string_col="k", id_col="doc_id", lifecycle="eager")


def test_edit_distance_pairs_unicode(spark):
    """Codepoint-level contract: the variant hashing operates on unicode
    codepoints (not bytes), matching Spark's codepoint-based levenshtein —
    multi-byte chars must neither split nor alias."""
    import random

    from kartothek_spark.operators.dedup import edit_distance_pairs

    rng = random.Random(99)
    alpha = "aé漢\U0001F600"  # 1-, 2-, 3-, 4-byte UTF-8 codepoints
    rows = [(i, "".join(rng.choice(alpha) for _ in range(rng.randint(0, 6))))
            for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, k string")
    got = sorted(
        tuple(r)
        for r in edit_distance_pairs(
            df, max_dist=2, string_col="k", id_col="doc_id"
        ).collect()
    )
    want = sorted(
        (ia, ib, _lev(sa, sb))
        for ia, sa in rows
        for ib, sb in rows
        if ia < ib and _lev(sa, sb) <= 2
    )
    assert got == want


# ---------------------------------------------------------------------------
# persisted inverted text index (BM25 postings dataset)
# ---------------------------------------------------------------------------

def test_text_index_matches_bm25(spark, tmp_path):
    """Indexed search must be VALUE-identical to the on-the-fly operator
    over the same corpus — shared _bm25_rank expression tree over exact
    stored integers. Corpus includes an empty doc and a doc with none of
    the query terms (both count toward N/avgdl but never score)."""
    from kartothek_spark.operators.search import bm25_search
    from kartothek_spark.operators.search_index import (
        build_text_index,
        search_text_index,
    )

    rows = [
        (1, "spark joins the table with spark"),
        (2, "a table of tables"),
        (3, ""),
        (4, "nothing relevant here at all"),
        (5, "join join join spark"),
        (6, "spark table join spark table join"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    root = str(tmp_path / "idx")
    build_text_index(spark, docs, root, "t", buckets=4)
    terms = ["spark", "table", "join"]
    got = [tuple(r) for r in search_text_index(spark, root, "t", terms, k=10).collect()]
    want = [tuple(r) for r in bm25_search(docs, terms, k=10).collect()]
    assert got == want
    assert len(got) == 4  # docs 3 and 4 never score


def test_text_index_sync_incremental(spark, tmp_path):
    """build(batch1) + sync(batch2) == build(batch1+batch2): postings,
    N, and avgdl all advance atomically with the sync commit."""
    from kartothek_spark.operators.search_index import (
        build_text_index,
        search_text_index,
        sync_text_index,
    )
    from pyspark.sql import functions as F

    rows = [(i, f"spark table doc {i} " + "join " * (i % 4)) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r1, r2 = str(tmp_path / "a"), str(tmp_path / "b")
    build_text_index(spark, docs, r1, "t", buckets=4)
    build_text_index(spark, docs.where(F.col("doc_id") < 25), r2, "t", buckets=4)
    sync_text_index(spark, docs.where(F.col("doc_id") >= 25), r2, "t")
    terms = ["spark", "join"]
    full = [tuple(r) for r in search_text_index(spark, r1, "t", terms, k=40).collect()]
    inc = [tuple(r) for r in search_text_index(spark, r2, "t", terms, k=40).collect()]
    assert inc == full


def test_text_index_search_prunes_partitions(spark, tmp_path):
    """A query's dispatch must touch ONLY its terms' tb buckets — the
    whole point of the persisted layout at corpus scale."""
    from kartothek_spark.core.manifest import DatasetManifest
    from kartothek_spark.dataset.read import dispatch_labels
    from kartothek_spark.functions.hashing import h60_py
    from kartothek_spark.operators.search_index import build_text_index

    rows = [(i, f"alpha beta gamma delta epsilon w{i}") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    root = str(tmp_path / "idx")
    build_text_index(spark, docs, root, "t", buckets=16)
    m = DatasetManifest.load(root, "t")
    terms = ["alpha"]
    bkts = sorted({h60_py(t) % 16 for t in terms})
    labels = dispatch_labels(
        spark, m, [[("tb", "in", bkts), ("term", "in", terms)]]
    )
    assert labels and len(labels) < len(m.partitions)
    assert all(f"tb={bkts[0]}/" in lbl for lbl in labels)


def test_h60_py_matches_engine(spark):
    from kartothek_spark.functions.hashing import h60, h60_py

    vals = ["", "spark", "漢字 mixed ascii", "a" * 100]
    got = [
        r[0]
        for r in spark.createDataFrame([(v,) for v in vals], "s string")
        .select(h60("s"))
        .collect()
    ]
    assert got == [h60_py(v) for v in vals]


def test_minhash_cross_pairs_planted(spark):
    """Cross-corpus near-dup detection: exact copy pairs via the
    exact-content path (jaccard 1), near copy via band+verify, unrelated
    text never pairs; fuzzy_decontaminate drops exactly the hit docs."""
    from kartothek_spark.operators.dedup import (
        fuzzy_decontaminate,
        minhash_cross_pairs,
    )

    # 40 distinct words; the near copy drops the last one → shingle-set
    # jaccard ≈ 0.95, high enough that the fixed deterministic band keys
    # must collide (banding at jaccard ~0.6 is probabilistic by design)
    body = " ".join(f"w{i}" for i in range(40))
    train = spark.createDataFrame(
        [
            (1, body),
            (2, "completely different content about spark shuffles " * 5),
            (3, body.rsplit(" ", 1)[0]),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, body), (101, "unrelated benchmark prose entirely " * 6)],
        "bench_id long, text string",
    )
    pairs = {
        (r.doc_id, r.bench_id): r.jaccard
        for r in minhash_cross_pairs(
            train, bench, threshold=0.3, right_id="bench_id"
        ).collect()
    }
    assert (1, 100) in pairs and pairs[(1, 100)] == 1.0  # exact copy
    assert (3, 100) in pairs and 0.3 <= pairs[(3, 100)] < 1.0  # near copy
    assert all(b != 101 for (_t, b) in pairs)  # unrelated never pairs

    kept = {
        r.doc_id
        for r in fuzzy_decontaminate(
            train,
            bench.select(F.col("bench_id").alias("doc_id"), "text"),
            threshold=0.3,
        ).collect()
    }
    assert kept == {2}


def test_asof_join_tolerance(spark):
    """pandas merge_asof tolerance parity: matches farther than the bound
    nullify like no match — both directions, numeric and timestamp on."""
    from kartothek_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 50), (2, 7)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 8, "a"), (1, 20, "b"), (2, 1, "c")], "k long, ts long, v string"
    )
    # backward, tolerance 5: (1,10)->8 (gap 2, keep), (1,50)->20 (gap 30,
    # null), (2,7)->1 (gap 6, null)
    got = {
        (r.k, r.ts): r.v
        for r in asof_join(left, right, on="ts", by="k", tolerance=5).collect()
    }
    assert got == {(1, 10): "a", (1, 50): None, (2, 7): None}
    # forward, tolerance 5: (1,10)->20? gap 10 null; (1,50)-> none; (2,7)-> none
    got_f = {
        (r.k, r.ts): r.v
        for r in asof_join(
            left, right, on="ts", by="k", direction="forward", tolerance=15
        ).collect()
    }
    assert got_f == {(1, 10): "b", (1, 50): None, (2, 7): None}
    # timestamp on + timedelta tolerance, keyless path
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    lts = spark.createDataFrame(
        [(t0 + datetime.timedelta(hours=h),) for h in (2, 9)], "ts timestamp"
    )
    rts = spark.createDataFrame(
        [(t0, "x"), (t0 + datetime.timedelta(hours=8), "y")],
        "ts timestamp, v string",
    )
    got_t = {
        r.ts.hour: r.v
        for r in asof_join(
            lts, rts, on="ts", tolerance=datetime.timedelta(hours=3)
        ).collect()
    }
    assert got_t == {2: "x", 9: "y"}


def test_edit_distance_pairs_hypothesis_completeness(spark):
    """Property (hypothesis): the SymSpell deletion-neighborhood blocking
    is COMPLETE — for ANY corpus of short mixed-alphabet strings (0-10
    chars, duplicates and planted near-misses included) and d in {1, 2},
    the operator's pair set equals the in-Python brute-force quadratic
    oracle exactly: ids, distances, and nothing extra. (Reference analog:
    the hypothesis predicate suites; the claim this pins is the
    completeness proof in _deletion_blocks' docstring.)"""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from kartothek_spark.operators.dedup import edit_distance_pairs

    # mixed alphabet incl. a non-ASCII codepoint (codepoint semantics)
    alpha = "abAB0 é"
    base = st.text(alphabet=alpha, min_size=0, max_size=10)

    def mutate(s, op, pos, ch):
        pos = pos % (len(s) + 1)
        if op == 0:  # insert
            return s[:pos] + ch + s[pos:]
        if op == 1 and s:  # delete
            pos = pos % len(s)
            return s[:pos] + s[pos + 1 :]
        if s:  # substitute
            pos = pos % len(s)
            return s[:pos] + ch + s[pos + 1 :]
        return ch

    # a corpus is a mix of fresh strings, exact duplicates, and 1-2-edit
    # mutations of earlier entries — dense in near-misses by construction
    plan = st.lists(
        st.tuples(
            base,
            st.integers(0, 3),  # 0 fresh, 1 dup of anchor, 2/3 mutate 1x/2x
            st.integers(0, 2), st.integers(0, 11), st.sampled_from(alpha),
            st.integers(0, 2), st.integers(0, 11), st.sampled_from(alpha),
            st.integers(0, 30),  # anchor index
        ),
        min_size=2, max_size=30,
    )

    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(plan=plan, max_dist=st.sampled_from([1, 2]))
    def prop(plan, max_dist):
        corpus: list[str] = []
        for fresh, kind, o1, p1, c1, o2, p2, c2, anchor in plan:
            if kind == 0 or not corpus:
                corpus.append(fresh)
                continue
            s = corpus[anchor % len(corpus)]
            if kind >= 2:
                s = mutate(s, o1, p1, c1)
            if kind == 3:
                s = mutate(s, o2, p2, c2)
            corpus.append(s)
        rows = list(enumerate(corpus))
        df = spark.createDataFrame(rows, "doc_id long, k string")
        got = sorted(
            tuple(r)
            for r in edit_distance_pairs(
                df, max_dist=max_dist, string_col="k", id_col="doc_id"
            ).collect()
        )
        want = sorted(
            (ia, ib, _lev(sa, sb))
            for ia, sa in rows
            for ib, sb in rows
            if ia < ib and _lev(sa, sb) <= max_dist
        )
        assert got == want

    prop()


def test_fuzzy_join_hypothesis_completeness(spark):
    """Property (hypothesis): the two-sided fuzzy join equals the N x M
    brute-force oracle for ANY pair of short-string tables — the probe
    side built partly by mutating corpus entries so cross-side near-misses
    always exist."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from kartothek_spark.operators.dedup import fuzzy_join

    base = st.text(alphabet="xyz9-", min_size=0, max_size=8)

    @settings(
        max_examples=8, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        left=st.lists(base, min_size=1, max_size=20),
        edits=st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 9), st.sampled_from("xyz9-")),
            min_size=1, max_size=12,
        ),
        max_dist=st.sampled_from([1, 2]),
    )
    def prop(left, edits, max_dist):
        right = [
            s[: p % (len(s) + 1)] + ch + s[p % (len(s) + 1) :]
            for (a, p, ch) in edits
            for s in [left[a % len(left)]]
        ]
        lrows = list(enumerate(left))
        rrows = list(enumerate(right))
        ldf = spark.createDataFrame(lrows, "lid long, k string")
        rdf = spark.createDataFrame(rrows, "rid long, q string")
        got = sorted(
            tuple(r)
            for r in fuzzy_join(
                ldf, rdf, max_dist=max_dist, left_on="k", right_on="q",
                left_id="lid", right_id="rid",
            ).collect()
        )
        want = sorted(
            (il, ir, _lev(sl, sr))
            for il, sl in lrows
            for ir, sr in rrows
            if _lev(sl, sr) <= max_dist
        )
        assert got == want

    prop()


def test_text_index_batch_matches_single(spark, tmp_path):
    """Batched multi-query index search must be VALUE-identical per query
    to the single-query path (same df/score/fold/rank math), with one
    pruned read serving the union of term buckets. Covers overlapping
    term sets, a single-term query, string and non-string query ids."""
    from kartothek_spark.operators.search_index import (
        build_text_index,
        search_text_index,
        search_text_index_batch,
    )

    rows = [
        (1, "spark joins the table with spark"),
        (2, "a table of tables"),
        (3, ""),
        (4, "nothing relevant here at all"),
        (5, "join join join spark"),
        (6, "spark table join spark table join"),
        (7, "table join nothing"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    root = str(tmp_path / "idx")
    build_text_index(spark, docs, root, "t", buckets=4)

    queries = {
        "qa": ["spark", "table", "join"],
        "qb": ["table"],
        "qc": ["join", "nothing"],
    }
    got = search_text_index_batch(spark, root, "t", queries, k=3)
    by_qid = {}
    for r in got.collect():
        by_qid.setdefault(r.query_id, []).append((r.doc_id, r.score, r.rank))
    for qid, terms in queries.items():
        single = [
            (r.doc_id, r.score, r.rank)
            for r in search_text_index(spark, root, "t", terms, k=3).collect()
        ]
        assert sorted(by_qid.get(qid, [])) == sorted(single), qid

    # guards
    with pytest.raises(ValueError, match="non-empty"):
        search_text_index_batch(spark, root, "t", {})
    with pytest.raises(ValueError, match="no terms"):
        search_text_index_batch(spark, root, "t", {"q": []})
    with pytest.raises(ValueError, match="unique"):
        search_text_index_batch(spark, root, "t", [("q", ["a"]), ("q", ["b"])])


def test_apply_dedup_best_keeps_highest_score(spark):
    """apply_dedup_best keeps the argmax-score member per cluster (ties ->
    smallest id; NULL scores lose); rows in no cluster pass through."""
    from kartothek_spark.operators.dedup import apply_dedup_best

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, None), (4, 50), (5, 50), (6, 7)],
        "doc_id long, q int",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    kept = sorted(r.doc_id for r in apply_dedup_best(docs, pairs, "q").collect())
    # cluster {1,2,3}: 2 wins (score 99, null loses); cluster {4,5}: tie -> 4
    assert kept == [2, 4, 6]


def test_mixture_sample_temperature(spark):
    """Temperature-weighted mixing: alpha=1 is proportional, alpha=0 is
    uniform, 0<alpha<1 up-weights small sources; quotas clamp to [1, n];
    selection is deterministic and a subset of the corpus."""
    from kartothek_spark.operators.corpus import mixture_sample

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def quotas(alpha, total):
        out = mixture_sample(df, "source", total=total, alpha=alpha)
        got = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
        return got.get("big", 0), got.get("small", 0)

    b1, s1 = quotas(1.0, 50)  # proportional: 45/5
    assert (b1, s1) == (45, 5)
    b0, s0 = quotas(0.0, 20)  # uniform: 10/10
    assert (b0, s0) == (10, 10)
    bh, sh = quotas(0.5, 50)  # sqrt: small source up-weighted vs proportional
    assert sh > 5 and bh > sh
    # determinism + subset
    a = sorted(r.doc_id for r in mixture_sample(df, "source", 30).collect())
    b = sorted(r.doc_id for r in mixture_sample(df, "source", 30).collect())
    assert a == b and set(a) <= set(range(100))
    import pytest

    with pytest.raises(ValueError, match="positive"):
        mixture_sample(df, "source", 0)


def test_ngram_containment_asymmetric(spark):
    """Containment catches a truncated copy nested in its origin — where
    Jaccard stays tiny — with exact set semantics: a prefix's gram set is
    a subset of the full doc's, so cont(prefix->full) == 1.0."""
    from kartothek_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    import random

    rng = random.Random(42)
    # NON-periodic base (a repeated phrase would collapse the full doc's
    # distinct gram set to one period's worth, hiding the asymmetry)
    base = " ".join(
        "".join(rng.choice("abcdefghij") for _ in range(rng.randint(3, 9)))
        for _ in range(150)
    )
    rows = [
        (1, base),
        (2, base[:60]),          # truncated copy: contained, low jaccard
        (3, "completely different content with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): (r.cont_a, r.cont_b)
        for r in ngram_containment_pairs(df, n=6, threshold=0.8).collect()
    }
    assert set(got) == {(1, 2)}
    cont_a, cont_b = got[(1, 2)]
    assert cont_b == 1.0 and cont_a < 0.2  # asymmetry: B inside A
    # doc-level jaccard misses the same pair at any comparable threshold
    jac = ngram_jaccard_pairs(df, n=6, threshold=0.8).collect()
    assert not any({r.id_a, r.id_b} == {1, 2} for r in jac)


def test_asof_join_salted_parity(spark):
    """The opt-in coarse-time salt (window on (key, time-bucket) + spine
    boundary carry) must be value-identical to the unsalted keyed join
    for every direction and with tolerance — including matches that
    cross MANY empty buckets — and its plan must actually partition the
    window on the salt bucket."""
    import pytest
    from pyspark.sql import functions as F

    from kartothek_spark.operators.temporal import asof_join

    # hot key with a dense timeline + sparse right side whose matches
    # must carry across several thousand-second buckets of silence
    left = spark.range(4000).select(
        F.when(F.col("id") % 4 < 3, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        (F.col("id") * 7 % 9973).alias("ts"),
        F.col("id").alias("lv"),
    )
    right = spark.range(40).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        (F.col("id") * 251).alias("ts"),
        (F.col("id") * 10).alias("rv"),
    )
    for direction in ("backward", "forward", "nearest"):
        for tol in (None, 300):
            plain = asof_join(left, right, on="ts", by="k", direction=direction, tolerance=tol)
            salted = asof_join(
                left, right, on="ts", by="k", direction=direction, tolerance=tol,
                salt_seconds=1000,
            )
            a = {tuple(r) for r in plain.collect()}
            b = {tuple(r) for r in salted.collect()}
            assert a == b, f"salted mismatch: direction={direction} tol={tol}"
    plan = (
        asof_join(left, right, on="ts", by="k", salt_seconds=1000)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "__bk" in plan  # the window really partitions on the salt bucket
    with pytest.raises(ValueError, match="keyed form only"):
        asof_join(left.drop("k"), right.drop("k"), on="ts", by=None, salt_seconds=10)


def _resample_fixture(spark):
    from pyspark.sql import functions as F

    # user 1: observations then LONG silence (many empty slices — the
    # LOCF value must carry across every slice boundary), then a burst;
    # user 2: a single observation (degenerate one-point grid)
    rows = [
        (1, 10, 100, 1.5),
        (1, 130, 101, 2.5),
        (1, 5000, 102, 3.5),
        (1, 5020, 103, 4.5),
        (2, 777, 200, 9.0),
    ]
    return (
        spark.createDataFrame(rows, "user_id long, sec long, event_id long, value double")
        .select(
            "user_id",
            F.timestamp_seconds(F.col("sec")).alias("ts"),
            "event_id",
            "value",
        )
    )


def test_resample_sliced_parity(spark):
    """resample_events(max_grid_points=...) (bounded two-level explode +
    slice-aligned salted as-of fill) must equal the unbounded form row
    for row, including grid points whose LOCF observation lives many
    slices back."""
    from kartothek_spark.operators.temporal import resample_events

    ev = _resample_fixture(spark)
    base = resample_events(ev, interval_seconds=60)
    sliced = resample_events(ev, interval_seconds=60, max_grid_points=7)
    a = {tuple(r) for r in base.collect()}
    b = {tuple(r) for r in sliced.collect()}
    assert a == b
    assert len(a) > 80  # user 1 spans ~84 grid points
    # the fill must really run salted (slice-aligned buckets in the plan)
    plan = sliced._jdf.queryExecution().executedPlan().toString()
    assert "__bk" in plan


def test_resample_grid_bounded(spark):
    """No slice of the bounded grid may exceed max_grid_points, the
    slices must tile the unbounded grid exactly, and the degenerate
    parameter is rejected."""
    import pytest
    from pyspark.sql import functions as F

    from kartothek_spark.operators.temporal import resample_grid

    ev = _resample_fixture(spark)
    m = 7
    bounded = resample_grid(ev, 60, max_grid_points=m, keep_slice=True)
    sizes = bounded.groupBy("user_id", "__slice").count().collect()
    assert sizes and max(r["count"] for r in sizes) <= m
    # a full slice exists (the bound is tight, not accidentally tiny)
    assert any(r["count"] == m for r in sizes)
    flat = {(r.user_id, r.ts) for r in bounded.drop("__slice").collect()}
    full = {(r.user_id, r.ts) for r in resample_grid(ev, 60).collect()}
    assert flat == full
    with pytest.raises(ValueError, match="max_grid_points"):
        resample_grid(ev, 60, max_grid_points=1).collect()


def test_hard_negatives_excludes_positives(spark):
    """Labeled positives and self never appear; ranking happens AFTER
    exclusion (dense 1..k per query); with no positives the result
    equals brute-force top-k exactly."""
    import os

    from pyspark.sql import functions as F

    from kartothek_spark.operators.similarity import brute_force_topk, hard_negatives
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    queries = emb.where(F.col("vec_id") < 8)
    pos = queries.select(
        F.col("vec_id").alias("query_id"), (F.col("vec_id") + 1).alias("pos_id")
    )
    out = hard_negatives(emb, queries, pos, k=5).collect()
    banned = {(r.query_id, r.pos_id) for r in pos.collect()}
    assert all((r.query_id, r.neighbor_id) not in banned for r in out)
    assert all(r.query_id != r.neighbor_id for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, 6)) for v in by_q.values())
    # empty positives degenerates to brute-force top-k
    none = pos.where(F.lit(False))
    a = {tuple(r) for r in hard_negatives(emb, queries, none, k=5).collect()}
    b = {tuple(r) for r in brute_force_topk(emb, queries, k=5).collect()}
    assert a == b


def test_bf_sims_batch_topk_exact_and_bounded(spark):
    """The in-kernel per-batch top-k (r8 ADVICE: shuffle hygiene) is
    EXACT — identical to ranking the unbounded Q×|C| relation, including
    cross-batch cosine TIES broken by neighbor_id (planted duplicate
    vectors) — and the emitted row count is bounded by
    queries·(k+slack)·batches instead of Q·|C|."""
    import math
    import os

    from pyspark.sql import Window, functions as F

    from kartothek_spark.operators._util import scale_out
    from kartothek_spark.operators.similarity import (
        _bf_sims,
        brute_force_topk,
        hard_negatives,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    # plant exact duplicates (vec_id + 100000 shares the embedding):
    # every query's neighbor list now carries cos ties that straddle
    # batch boundaries — the selection must keep boundary ties alive
    corpus = emb.unionByName(
        emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    )
    queries = emb.where(F.col("vec_id") < 6)
    k = 5
    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(batch_conf)
    spark.conf.set(batch_conf, "64")  # force many small Arrow batches
    try:
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos_sim"), F.asc("neighbor_id")
        )
        unbounded = (
            _bf_sims(corpus, queries, "vec_id", "embedding")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                "query_id", "neighbor_id",
                F.col("rank").cast("long").alias("rank"), "cos_sim",
            )
        )
        want = sorted(map(tuple, unbounded.collect()))
        got = sorted(map(tuple, brute_force_topk(corpus, queries, k=k).collect()))
        assert got == want

        # volume bound: emitted rows <= n_queries * k * n_batches << Q*|C|
        sims = _bf_sims(corpus, queries, "vec_id", "embedding", batch_topk=k)
        n_emitted = sims.count()
        per_part = (
            scale_out(corpus)
            .groupBy(F.spark_partition_id().alias("p"))
            .count()
            .collect()
        )
        n_batches = sum(math.ceil(r["count"] / 64) for r in per_part)
        nq = queries.count()
        assert n_emitted <= nq * k * n_batches
        assert n_emitted < nq * (corpus.count() - 1)  # strictly below Q*|C|

        # hard negatives under worst-case slack: positives ARE the true
        # top-3, so every batch's head rows get excluded downstream —
        # the k+slack emission must still surface ranks 4..(k+3)
        pos = (
            brute_force_topk(corpus, queries, k=3)
            .select("query_id", F.col("neighbor_id").alias("pos_id"))
        )
        pos_rel = pos.select("query_id", F.col("pos_id").alias("neighbor_id"))
        want_hn = sorted(map(tuple, (
            _bf_sims(corpus, queries, "vec_id", "embedding")
            .join(pos_rel, ["query_id", "neighbor_id"], "left_anti")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                "query_id", "neighbor_id",
                F.col("rank").cast("long").alias("rank"), "cos_sim",
            )
        ).collect()))
        got_hn = sorted(map(tuple, hard_negatives(corpus, queries, pos, k=k).collect()))
        assert got_hn == want_hn
    finally:
        spark.conf.set(batch_conf, old)


def test_source_overlap_planted(spark):
    """Planted overlap: groups A and B share exactly one 8-gram run, C
    shares nothing — counts and Jaccard are exact."""
    from kartothek_spark.operators.contamination import source_overlap

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # one 8-gram
    rows = [
        (1, shared + " unique a tail words here one two three", "A"),
        (2, shared + " other b ending words go four five six", "B"),
        (3, "totally different content with no common run at all x y z", "C"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r.src_a, r.src_b): r for r in source_overlap(df, n=8).collect()}
    assert set(got) == {("A", "B")}
    r = got[("A", "B")]
    # A and B each hold 9 distinct 8-grams (16 tokens), exactly 1 shared
    assert r.n_shared == 1 and r.n_a == 9 and r.n_b == 9
    assert abs(r.jaccard - round(1 / 17, 6)) < 1e-9


def test_token_budget_sample(spark):
    """Budget semantics: kept docs in hash order fill the group's token
    budget with the crossing doc included (prefix strictly under budget
    for every kept doc; the NEXT doc in hash order would start at or
    past it); every non-empty group keeps >= 1 doc; the sharded
    boundary-carry prefix sum equals the naive single-window form."""
    import os

    import pytest
    from pyspark.sql import Window, functions as F

    from kartothek_spark.functions.hashing import h60
    from kartothek_spark.operators.corpus import token_budget_sample
    from kartothek_spark.operators.text import token_count
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    total = 5000
    out = token_budget_sample(docs, "source", total_tokens=total)
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert kept

    # naive single-window reference computed independently
    h = h60(F.concat(F.lit("tokbudget:"), F.col("doc_id").cast("string")))
    toks = docs.select("doc_id", "source", token_count(F.col("text")).alias("tok"), h.alias("h"))
    T = {r.source: r.T for r in toks.groupBy("source").agg(F.sum("tok").alias("T")).collect()}
    w = {s: int(round((t ** 0.5) * 1e6)) for s, t in T.items()}
    wsum = sum(w.values())
    budget = {s: max(1, total * w[s] // wsum) for s in w}
    rows = sorted(toks.collect(), key=lambda r: (r.source, r.h, r.doc_id))
    want, cum = set(), {}
    for r in rows:
        before = cum.get(r.source, 0)
        if before < budget[r.source]:
            want.add(r.doc_id)
        cum[r.source] = before + r.tok
    assert kept == want
    # every source represented
    assert {r.source for r in out.select("source").distinct().collect()} == set(T)
    with pytest.raises(ValueError, match="total_tokens"):
        token_budget_sample(docs, "source", total_tokens=0)


def test_asof_salted_parity_any_shape(spark):
    """Property (hypothesis, r8 brief #6): for ANY random event sets,
    salt_seconds, direction and tolerance, the salted keyed as-of join
    is value-identical to the unsalted form. Random shapes exercise the
    carry's edge cases the fixed-shape parity test cannot: empty
    buckets, all-left buckets, single-bucket degenerate salts, and
    tolerances that cross a bucket boundary."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from kartothek_spark.operators.temporal import asof_join

    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        left=st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 120)),
            min_size=0, max_size=20,
        ),
        right=st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 120)),
            min_size=0, max_size=20, unique=True,  # unique per (by, on)
        ),
        direction=st.sampled_from(["backward", "forward", "nearest"]),
        tolerance=st.sampled_from([None, 0, 3, 17, 1000]),
        salt=st.sampled_from([1, 2, 7, 50, 1000]),
    )
    def prop(left, right, direction, tolerance, salt):
        ldf = spark.createDataFrame(
            [(k, t, k * 1000 + t) for k, t in left] or [(None, None, None)],
            "k int, ts int, l_tag long",
        ).where("k IS NOT NULL")
        rdf = spark.createDataFrame(
            [(k, t, float(k * 7 + t)) for k, t in right] or [(None, None, None)],
            "k int, ts int, r_val double",
        ).where("k IS NOT NULL")
        base = sorted(
            map(tuple, asof_join(
                ldf, rdf, on="ts", by="k",
                direction=direction, tolerance=tolerance,
            ).collect())
        )
        salted = sorted(
            map(tuple, asof_join(
                ldf, rdf, on="ts", by="k",
                direction=direction, tolerance=tolerance, salt_seconds=salt,
            ).collect())
        )
        assert salted == base

    prop()


def test_resample_sliced_parity_any_shape(spark):
    """Property (hypothesis, r8 brief #6): for ANY random event set,
    interval and max_grid_points, the bounded two-level-explode resample
    equals the unbounded form exactly — including the LOCF carry across
    slice boundaries, keys whose whole span fits one slice, and
    duplicate (key, ts) observations (deduplicated by max event id)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from kartothek_spark.operators.temporal import resample_events

    @settings(
        max_examples=10, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        events=st.lists(
            st.tuples(st.integers(0, 1), st.integers(0, 400)),
            min_size=1, max_size=25,
        ),
        interval=st.sampled_from([1, 7, 60]),
        max_pts=st.sampled_from([2, 3, 5, 64]),
    )
    def prop(events, interval, max_pts):
        rows = [
            (k, t, i, float(t % 13)) for i, (k, t) in enumerate(events)
        ]
        ev = spark.createDataFrame(
            rows, "user_id int, sec int, event_id long, value double"
        ).select(
            "user_id",
            F.timestamp_seconds("sec").alias("ts"),
            "event_id",
            "value",
        )
        full = sorted(
            map(tuple, resample_events(ev, interval_seconds=interval).collect())
        )
        sliced = sorted(
            map(tuple, resample_events(
                ev, interval_seconds=interval, max_grid_points=max_pts
            ).collect())
        )
        assert sliced == full

    prop()


def test_hard_negatives_margin_positive_aware(spark):
    """Positive-aware margin filter (round 9): a planted unlabeled
    near-positive ABOVE max(pos_cos) - margin is excluded, candidates
    below are kept with dense re-ranking, a query WITHOUT positives is
    not margin-filtered, and the whole result equals the exclusion rule
    applied in pandas to the unbounded similarity relation."""
    import pandas as pd
    from pyspark.sql import functions as F

    from kartothek_spark.operators.similarity import _bf_sims, hard_negatives

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),       # query with positives
        (1, [0.9, 0.1, 0.0, 0.0]),       # labeled positive (cos ~.994)
        (2, [0.95, 0.05, 0.0, 0.0]),     # unlabeled near-positive (cos ~.998)
        (3, [0.7, 0.3, 0.0, 0.0]),
        (4, [0.5, 0.5, 0.0, 0.0]),
        (5, [0.3, 0.7, 0.0, 0.0]),
        (6, [0.1, 0.9, 0.0, 0.0]),
        (7, [0.0, 1.0, 0.0, 0.0]),
        (9, [0.0, 0.0, 1.0, 0.0]),       # query with NO positives
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    queries = emb.where(F.col("vec_id").isin(0, 9))
    positives = spark.createDataFrame([(0, 1)], "query_id long, pos_id long")
    margin = 0.02
    k = 3

    got = hard_negatives(emb, queries, positives, k=k, margin=margin).collect()

    # independent reference: unbounded sims + the rule applied in pandas
    sims = _bf_sims(emb, queries, "vec_id", "embedding").toPandas()
    pos_pairs = {(0, 1)}
    cut = {
        q: max(
            r.cos_sim for r in sims.itertuples()
            if (r.query_id, r.neighbor_id) in pos_pairs and r.query_id == q
        ) - margin
        for q in {0}
    }
    keep = sims[
        sims.apply(
            lambda r: (r.query_id, r.neighbor_id) not in pos_pairs
            and r.cos_sim <= cut.get(r.query_id, float("inf")),
            axis=1,
        )
    ]
    want = set()
    for q, grp in keep.groupby("query_id"):
        grp = grp.sort_values(
            ["cos_sim", "neighbor_id"], ascending=[False, True]
        ).head(k)
        for rank, r in enumerate(grp.itertuples(), 1):
            want.add((r.query_id, r.neighbor_id, rank, r.cos_sim))
    assert {tuple(r) for r in got} == want

    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    # the planted near-positive is margin-excluded for query 0...
    assert all(r.neighbor_id != 2 for r in by_q[0])
    assert sorted(r.rank for r in by_q[0]) == [1, 2, 3]
    # ...but query 9 (no positives) is not margin-filtered
    assert len(by_q[9]) == k
    # and without margin the near-positive ranks FIRST (the filter bites)
    unfiltered = hard_negatives(emb, queries, positives, k=k).collect()
    top0 = [r for r in unfiltered if r.query_id == 0 and r.rank == 1]
    assert top0 and top0[0].neighbor_id == 2


def test_select_batch_topk_fuzz():
    """Spark-free exactness pin for the vectorized bounded-emission
    kernel (`_select_batch_topk`): against a literal per-query
    reference (copy column, mask self/cutoff, tie-keeping value
    threshold, lexsort cap) over tie-DENSE random batches — few
    distinct cosine values so boundary ties straddle the threshold
    constantly, queries that are corpus members (self-pair masking),
    zero limits, and per-query cutoffs including +inf sentinels."""
    import numpy as np

    from kartothek_spark.operators.similarity import _select_batch_topk

    def reference(cos, c_ids, b_qids, b_lim, b_cut):
        B = len(c_ids)
        rows = []
        for j in range(len(b_qids)):
            col = cos[:, j].copy()
            col[c_ids == b_qids[j]] = -np.inf
            if b_cut is not None and np.isfinite(b_cut[j]):
                col[col > b_cut[j]] = -np.inf
            L = int(b_lim[j])
            if L <= 0:
                continue
            if B > L:
                v = np.partition(col, B - L)[B - L]
                cand = np.nonzero(col >= v)[0]
            else:
                cand = np.arange(B)
            order = np.lexsort((c_ids[cand], -col[cand]))[:L]
            keep = cand[order]
            keep = keep[col[keep] != -np.inf]
            rows.extend(
                (int(b_qids[j]), int(c_ids[i]), float(cos[i, j])) for i in keep
            )
        return sorted(rows)

    rng = np.random.default_rng(7)
    for trial in range(1500):
        B = int(rng.integers(1, 12))
        Q = int(rng.integers(1, 8))
        cos = np.round(rng.integers(0, 4, size=(B, Q)) / 4.0, 6).astype("float64")
        c_ids = rng.permutation(np.arange(100, 100 + B))
        b_qids = rng.choice(
            np.r_[c_ids, np.arange(500, 520)], size=Q, replace=False
        )
        b_lim = rng.integers(0, 5, size=Q).astype("int64")
        if trial % 3 == 0:
            b_cut = None
        else:
            b_cut = np.where(
                rng.random(Q) < 0.5, np.inf,
                np.round(rng.integers(0, 4, Q) / 4.0, 6),
            ).astype("float64")
        want = reference(cos.copy(), c_ids, b_qids, b_lim, b_cut)
        jj, ids, vals = _select_batch_topk(cos.copy(), c_ids, b_qids, b_lim, b_cut)
        got = sorted(
            (int(b_qids[j]), int(i), float(v)) for j, i, v in zip(jj, ids, vals)
        )
        assert got == want, (trial, b_lim, b_cut)
        # volume bound: never more than the sum of limits
        assert len(jj) <= int(b_lim.sum())


def test_winnow_run_edge_dedup_matches_array_distinct(spark):
    """The winnow kernel dedups per-row selections with a run-edge filter
    (selected positions never decrease as the window slides, so equal
    selections are consecutive). That must be BIT-identical to the
    array_distinct-over-structs form it replaced — which was an
    O(windows^2) interpreted struct scan per document. Fuzz over a tiny
    alphabet (maximizing hash ties and repeated windows) plus edge docs."""
    import random

    from kartothek_spark.functions.hashing import bind_once, bind_value, h60, tokens
    from kartothek_spark.operators.dedup import winnow_fingerprints

    k, w = 8, 4

    def winnow_reference(df):
        norm = F.concat_ws(" ", tokens(F.col("text")))

        def fps(s):
            npos = F.greatest(F.length(s) - k + 1, F.lit(1))
            hs_expr = F.transform(
                F.sequence(F.lit(1), npos), lambda i: h60(F.substring(s, i, k))
            )

            def sel(hs):
                starts = F.sequence(F.lit(1), F.greatest(F.size(hs) - w + 1, F.lit(1)))
                return F.transform(
                    starts,
                    lambda st: bind_value(
                        F.slice(hs, st, w),
                        lambda sl: F.struct(
                            F.array_min(sl).alias("fp"),
                            (F.array_position(sl, F.array_min(sl)) + st - 1).alias("pos"),
                        ),
                    ),
                )

            return bind_once(hs_expr, sel)

        return (
            df.where(F.col("text").isNotNull())
            .select(F.col("doc_id"), F.explode(F.array_distinct(bind_once(norm, fps))).alias("f"))
            .select(
                F.col("doc_id"),
                F.col("f.fp").alias("fp"),
                F.col("f.pos").cast("long").alias("pos"),
            )
        )

    random.seed(7)
    rows = [(9001, None), (9002, "a" * 40), (9003, "abcabcabcabcabcabcabc"), (9004, "")]
    for i in range(400):
        n = random.choice([0, 1, 5, 7, 8, 9, 15, 60])
        rows.append((i, "".join(random.choice("ab c") for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = [tuple(r) for r in winnow_fingerprints(df, k=k, w=w).collect()]
    want = [tuple(r) for r in winnow_reference(df).collect()]
    assert got == want  # ordered: same rows in the same explode order
