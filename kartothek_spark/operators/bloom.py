"""Distributed Bloom-filter membership index for n-gram decontamination.

:mod:`~kartothek_spark.operators.contamination` broadcasts the benchmark
side's DISTINCT shingle-hash set and semi-joins the exploded training
shingles against it. That is already corpus-shuffle-free, but at 100 TB
the per-batch probe still pays one hash-relation build + one join per
training batch, and the relation grows linearly with the number of
indexed eval suites. The Bloom filter collapses the benchmark side to a
fixed-size bitmap (16 bits/key ≈ 2 KB per thousand shingles) that ships
as a plain expression literal: the prefilter over the corpus is then a
single narrow JVM ``EXISTS`` scan over each doc's shingle-hash array —
**zero joins, zero shuffles, zero relation builds** for the overwhelming
majority of clean documents. Only candidate docs (true hits + the
bitmap's documented false positives) pay the exact verification join,
so the final answer is EXACTLY the exact operator's (Bloom filters have
no false negatives) and every query here shares
:func:`~kartothek_spark.operators.contamination.contamination_hits`'s /
``decontaminate``'s DuckDB oracle.

Construction is cross-engine deterministic end to end, so the bitmap
ITSELF has a value-exact SQL twin (:func:`bloom_words_sql`):

* keys are the 60-bit md5 shingle hashes every contamination operator
  already uses (``functions/hashing.py``);
* bit positions come from Kirsch–Mitzenmacher double hashing
  (``pos_i = (h1 + i*h2) mod m``, h1/h2 sliced off the 60-bit hash) —
  pure int64 arithmetic, bit-identical in Spark, DuckDB and NumPy;
* the bitmap is packed into 63-bit words (bit 63 never set: a signed
  left shift of 63 overflows DuckDB and sign-extends nowhere) and built
  with a map-side-combinable ``groupBy(word_idx).agg(bit_or(mask))`` —
  at most ``m/63`` rows ever shuffle, regardless of key count.

Probe paths (same results, pinned by parity tests):

* ``n_words <= EXPR_MAX_WORDS``: the words ship as an inline array
  literal and membership is ``getbit(element_at(...), pos) == 1`` —
  one narrow JVM scan, no joins, no Python (higher-order functions
  evaluate interpreted, outside whole-stage codegen — see
  ``EXPR_MAX_WORDS`` for the measured size boundary this implies).
* larger bitmaps: a vectorized NumPy ``mapInPandas`` prefilter (Arrow
  batches, no row-at-a-time Python).

Persisted form (managed datasets, same manifest machinery as every
other index family): ``<uuid>`` holds the packed words (the defining
dataset; ``m_bits``/``k``/``n`` ride its metadata), ``<uuid>__keys``
holds the exact distinct shingle-hash set that verification joins
against. Sync appends O(new suite) keys and then REBUILDS the bitmap
from the persisted key set — the keys are the source of truth and the
bitmap a derived structure, so any torn two-dataset state self-heals on
the next sync and the bitmap is history-independent by construction
(bit_or over a set does not depend on arrival order). Rebuilding costs
one scan of an 8-byte-per-key table; the text-side shingling — the
actual expensive step — stays O(new docs).

Reference parity: the persisted lifecycle mirrors kartothek's X1-X5
secondary indices (kartothek/core/index.py:670-757); the reference has
no membership-sketch layer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kartothek_spark.core.manifest import DatasetManifest
from kartothek_spark.functions.hashing import (
    h60,
    h60_sql,
    shingles_from_tokens,
    tokens,
    word_shingles_sql,
)

#: bits packed per int64 word — 63 so no mask ever needs a signed
#: left-shift by 63 (DuckDB raises on the overflow; Spark wraps)
WORD_BITS = 63
#: number of double-hashing probes per key
DEFAULT_BLOOM_K = 6
#: default bitmap sizing: bits per distinct key (FP ~1e-3 at k=6),
#: rounded up to a power of two
DEFAULT_BITS_PER_KEY = 16
#: smallest auto-sized bitmap
MIN_BLOOM_BITS = 1 << 13
#: hard cap — 2^26 bits = ~1M words = 8 MB on the driver; eval
#: benchmarks are small by the contamination module's own contract, and
#: anything bigger belongs in the full broadcast-join operator
MAX_BLOOM_BITS = 1 << 26
#: above this word count the inline-literal expression path gives way
#: to the vectorized NumPy prefilter. The boundary is MEASURED, not a
#: codegen-size guess. Mechanism (verified round 8): higher-order
#: functions run INTERPRETED, outside whole-stage codegen, and in
#: interpreted mode the ``F.lit(words)`` CreateArray re-materializes per
#: row — O(words) per row, not O(k). At 8,322 words (2^19 bits) the
#: expression path took 8.9 s where the Arrow/NumPy pass took 0.55 s on
#: the same 236k-shingle scan (sf0.1); at 1,041 words (2^16) the two
#: paths are within noise of each other. A third shape — a
#: nondeterministic-projection barrier + plain codegen filter, which
#: DOES fold the literal — wins on pre-materialized inputs (1.6 s vs
#: 29 s vs NumPy 3.0 s at 2M rows) but LOSES on the live md5 shingle
#: pipeline (8.4 s vs the HOF's 4.6 s at 2^16), so the dispatch stays
#: HOF-below / NumPy-above with 2048 as the measured crossover.
EXPR_MAX_WORDS = 2048

_TWO_32 = 4294967296

#: version of the bit-position derivation (the Kirsch–Mitzenmacher
#: h1/h2 slicing below). v1 sliced h2 from bit 28 (overlapping h1);
#: v2 made the pair disjoint (h2 from bit 32). Bit positions — and
#: therefore every persisted bitmap — change between versions, so a
#: bitmap built under one version probed under another silently loses
#: the no-false-negatives guarantee. The version is stamped into the
#: index manifest; probes REJECT a mismatch (sync heals it instead:
#: the rebuild reads the raw 60-bit key set, which is version-free).
BLOOM_HASH_VERSION = 2

META_M_BITS = "bloom_m_bits"
META_K = "bloom_k"
META_N = "bloom_shingle_n"
META_HASH_VERSION = "bloom_hash_version"


def _keys_uuid(index_uuid: str) -> str:
    return f"{index_uuid}__keys"


def _size_m(n_keys: int, bits_per_key: int = DEFAULT_BITS_PER_KEY) -> int:
    """Power-of-two bitmap size for ``n_keys`` distinct keys."""
    m = MIN_BLOOM_BITS
    target = max(1, n_keys) * bits_per_key
    while m < target:
        m <<= 1
    if m > MAX_BLOOM_BITS:
        raise ValueError(
            f"bloom bitmap would need {m} bits for {n_keys} keys "
            f"(cap {MAX_BLOOM_BITS}); a benchmark side this large should "
            "use the exact broadcast-join operator instead"
        )
    return m


def _validate_m_bits(m_bits: int) -> None:
    """Persisted bitmaps must be power-of-two sized within
    [MIN_BLOOM_BITS, MAX_BLOOM_BITS]: the auto-resize doubling loop and
    the 8-MB driver-collect cap both assume it (a non-power-of-two size
    accepted here could double past the cap unchecked)."""
    if (
        not isinstance(m_bits, int)
        or m_bits < MIN_BLOOM_BITS
        or m_bits > MAX_BLOOM_BITS
        or m_bits & (m_bits - 1)
    ):
        raise ValueError(
            f"m_bits={m_bits!r}: persisted bloom bitmaps must be a power "
            f"of two in [{MIN_BLOOM_BITS}, {MAX_BLOOM_BITS}]"
        )


def _h1(h: Column) -> Column:
    return h % F.lit(_TWO_32)


def _h2(h: Column) -> Column:
    return (F.shiftright(h, 32).bitwiseOR(F.lit(1))) % F.lit(_TWO_32)


def bloom_words(
    keys: DataFrame, m_bits: int, k: int = DEFAULT_BLOOM_K, key_col: str = "kh"
) -> DataFrame:
    """The packed bitmap ``(word_idx, word)`` of a distinct int64 key
    set. One narrow explode (k rows/key) into a map-side-combined
    ``bit_or`` — at most ``m_bits/63`` rows reach the shuffle no matter
    how many keys went in."""
    rows = keys.select(
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i"),
        _h1(F.col(key_col)).alias("_h1"),
        _h2(F.col(key_col)).alias("_h2"),
    ).select(((F.col("_h1") + F.col("i") * F.col("_h2")) % F.lit(m_bits)).alias("p"))
    return (
        rows.select(
            F.expr(f"CAST(p DIV {WORD_BITS} AS BIGINT)").alias("word_idx"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {WORD_BITS} AS INT))").alias(
                "_mask"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_mask").alias("word"))
    )


def bloom_words_sql(keys_sql: str, m_bits: int, k: int = DEFAULT_BLOOM_K, key_col: str = "kh") -> str:
    """DuckDB twin of :func:`bloom_words` — the bitmap itself is
    value-exact across engines."""
    return f"""
WITH rows_ AS (
  SELECT i, {key_col} % {_TWO_32} AS h1, (({key_col} >> 32) | 1) % {_TWO_32} AS h2
  FROM ({keys_sql}), range(0, {k}) t(i)
), pos AS (
  SELECT (h1 + i*h2) % {m_bits} AS p FROM rows_
)
SELECT p // {WORD_BITS} AS word_idx,
       bit_or(CAST(1 AS BIGINT) << CAST(p % {WORD_BITS} AS INT)) AS word
FROM pos GROUP BY 1
"""


def bench_shingle_keys_sql(benchmark_sql: str, n: int = 8, text_col: str = "text") -> str:
    """Distinct 60-bit shingle hashes of a (id, text) relation — the
    key set the bitmap is built over (oracle-side helper)."""
    sh = word_shingles_sql(text_col, n)
    h = h60_sql("_sh")
    return (
        f"SELECT DISTINCT {h} AS kh "
        f"FROM (SELECT unnest({sh}) AS _sh FROM ({benchmark_sql}))"
    )


def _bench_shingle_keys(benchmark: DataFrame, n: int, text_col: str) -> DataFrame:
    return (
        benchmark.select(tokens(F.col(text_col)).alias("_t"))
        .select(F.explode(shingles_from_tokens(F.col("_t"), n)).alias("_sh"))
        .select(h60(F.col("_sh")).alias("kh"))
        .distinct()
    )


def dense_words(rows, m_bits: int) -> list[int]:
    """Dense word list (length ``ceil(m_bits/63)``) from sparse
    ``(word_idx, word)`` rows."""
    n_words = (m_bits + WORD_BITS - 1) // WORD_BITS
    words = [0] * n_words
    for r in rows:
        words[int(r[0])] = int(r[1])
    return words


def bloom_member_expr(h: Column, words: list[int], m_bits: int, k: int) -> Column:
    """Join-free JVM membership test of an int64 hash against an inline
    bitmap literal: k ``getbit(element_at(...))`` probes, no join, no
    Python. ``h`` may be a higher-order-function lambda variable, so the
    prefilter composes into ``F.exists`` over a shingle-hash array."""
    if not words:
        return F.lit(False)
    arr = F.lit(words)
    h1, h2 = _h1(h), _h2(h)
    cond = None
    for i in range(k):
        pos = (h1 + F.lit(i) * h2) % F.lit(m_bits)
        # pos < 2^26 << 2^53: float division then truncation is exact
        widx = (pos / F.lit(WORD_BITS)).cast("long")
        bit = (
            F.getbit(F.element_at(arr, (widx + 1).cast("int")), pos % F.lit(WORD_BITS))
            == F.lit(1)
        )
        cond = bit if cond is None else cond & bit
    return cond


def _np_scalar_prefilter_func(words, m_bits: int, k: int, col_name: str):
    """mapInPandas prefilter for a SCALAR int64 hash column (the seen-
    fingerprint dedup path): keeps rows whose hash is a bitmap member.
    Same double-hashing arithmetic as the array form, one vectorized
    pass per Arrow batch."""
    import numpy as np

    w = np.asarray(words, dtype=np.int64)

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            h = pdf[col_name].to_numpy(dtype=np.int64)
            h1 = h % _TWO_32
            h2 = ((h >> 32) | 1) % _TWO_32
            ok = np.ones(h.shape, dtype=bool)
            for i in range(k):
                pos = (h1 + i * h2) % m_bits
                ok &= ((w[pos // WORD_BITS] >> (pos % WORD_BITS)) & 1) == 1
            yield pdf[ok]

    return run


def bloom_member_scalar(
    df: DataFrame, col: str, words: list[int], m_bits: int, k: int
) -> DataFrame:
    """Rows whose int64 hash column is a bitmap member. Expression path
    under EXPR_MAX_WORDS, vectorized NumPy mapInPandas above — same
    result either way (the parity the array form pins)."""
    if not words:
        return df.where(F.lit(False))
    if len(words) <= EXPR_MAX_WORDS:
        # bind the hash VALUE to a lambda variable before probing:
        # FilterExec has no subexpression elimination, so a filter
        # directly on bloom_member_expr(col) re-evaluates whatever
        # expression Catalyst collapsed into `col` once per getbit
        # probe (~4x the whole scan cost when col is an md5 pipeline —
        # measured). A lambda variable is an evaluated value
        # (functions/hashing.bind_once), so the k probes share ONE
        # evaluation.
        return df.where(
            F.exists(
                F.array(F.col(col)),
                lambda x: bloom_member_expr(x, words, m_bits, k),
            )
        )
    return df.mapInPandas(
        _np_scalar_prefilter_func(words, m_bits, k, col), schema=df.schema
    )


def _candidate_shingles(
    df: DataFrame, words: list[int], m_bits: int, k: int,
    text_col: str, id_col: str, n: int,
) -> DataFrame:
    """(id, kh) shingle rows passing the bitmap — the prefilter. Rides
    the SAME exploded (id, hash) pipeline as the exact operator (one
    tokenize + one md5 per shingle; an earlier per-doc array-EXISTS
    form let Catalyst's project-collapse DUPLICATE the whole shingle
    expression into both the filter and the downstream explode,
    doubling the dominant hashing cost — plan-pinned narrow now)."""
    from kartothek_spark.operators.contamination import _doc_shingle_hashes

    doc_h = _doc_shingle_hashes(df, text_col, id_col, n).withColumnRenamed(
        "_h", "kh"
    )
    return bloom_member_scalar(doc_h, "kh", words, m_bits, k)


def _verify_hits(
    candidates: DataFrame, bench_keys: DataFrame, id_col: str
) -> DataFrame:
    """Exact per-doc hit counts over the candidate shingles: broadcast
    semi-join the true key set — false positives die here, so the
    result equals contamination_hits over the full corpus (the bitmap
    has no false negatives, so no true hit was dropped upstream)."""
    return (
        candidates.join(F.broadcast(bench_keys), "kh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def _collect_words(keys: DataFrame, m_bits: int, k: int) -> list[int]:
    return dense_words(bloom_words(keys, m_bits, k).collect(), m_bits)


def bloom_contamination_hits(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    m_bits: int | None = None,
    k: int = DEFAULT_BLOOM_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-accelerated ``(id, n_hits)`` — value-identical to
    :func:`~kartothek_spark.operators.contamination.contamination_hits`
    (shared oracle): no false negatives, and false positives are killed
    by the exact verification join over candidates only."""
    bench_keys = _bench_shingle_keys(benchmark, n, text_col)
    if m_bits is None:
        m_bits = _size_m(bench_keys.count())
    words = _collect_words(bench_keys, m_bits, k)
    cand = _candidate_shingles(train, words, m_bits, k, text_col, id_col, n)
    return _verify_hits(cand, bench_keys, id_col)


# --- persisted index ---------------------------------------------------------


def build_bloom_index(
    spark: SparkSession,
    benchmark: DataFrame,
    root: str,
    index_uuid: str,
    n: int = 8,
    m_bits: int | None = None,
    k: int = DEFAULT_BLOOM_K,
    text_col: str = "text",
    overwrite: bool = False,
    extra_metadata: dict | None = None,
) -> DatasetManifest:
    """Materialize the benchmark's bitmap + exact key set as managed
    datasets. Keys first, words second: the words manifest (which
    carries ``m_bits``/``k``/``n`` and the streaming stamp) defines the
    index, so crash debris between the two commits is keys-only and
    definitionally stale while the words manifest is absent."""
    from kartothek_spark.dataset.write import store_dataframe_as_dataset

    bench_keys = _bench_shingle_keys(benchmark, n, text_col).localCheckpoint(
        eager=True
    )
    if m_bits is None:
        m_bits = _size_m(bench_keys.count())
    else:
        _validate_m_bits(m_bits)
    store_dataframe_as_dataset(
        spark,
        bench_keys,
        root,
        _keys_uuid(index_uuid),
        sort_partitions_by=["kh"],
        metadata=dict(extra_metadata or {}),
        overwrite=overwrite or not DatasetManifest.exists(root, index_uuid),
    )
    meta = {
        META_M_BITS: m_bits,
        META_K: k,
        META_N: n,
        META_HASH_VERSION: BLOOM_HASH_VERSION,
        **(extra_metadata or {}),
    }
    return store_dataframe_as_dataset(
        spark,
        bloom_words(bench_keys, m_bits, k),
        root,
        index_uuid,
        sort_partitions_by=["word_idx"],
        metadata=meta,
        overwrite=overwrite,
    )


def sync_bloom_index(
    spark: SparkSession,
    new_bench: DataFrame,
    root: str,
    index_uuid: str,
    text_col: str = "text",
    extra_metadata: dict | None = None,
) -> DatasetManifest:
    """O(new suite) key append + bitmap rebuild from the persisted key
    set. The keys are the source of truth; the bitmap is derived, so the
    rebuild makes sync history-independent and self-healing: a crash
    between the two commits (keys appended, words stale) is repaired by
    ANY later sync, because the rebuild reads the keys dataset, not the
    incoming batch. Content-keyed idempotency for free: re-shipping an
    already-indexed suite appends nothing (hash anti-join)."""
    from kartothek_spark.dataset.read import read_table
    from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset

    manifest = DatasetManifest.load(root, index_uuid)
    m_bits = int(manifest.metadata[META_M_BITS])
    k = int(manifest.metadata[META_K])
    n = int(manifest.metadata[META_N])
    stored_hv = manifest.metadata.get(META_HASH_VERSION)
    if stored_hv is None or int(stored_hv) != BLOOM_HASH_VERSION:
        # sync HEALS a version mismatch: the rebuild below reads the raw
        # 60-bit key set (version-free) and re-derives every bit position
        # under the current hashing, then stamps the current version. A
        # MISSING stamp is an unknown vintage (pre-stamp indexes were in
        # fact built under the current v2 hashing, but the manifest
        # cannot prove it) — this sync is the documented one-time
        # migration that stamps them
        import warnings

        warnings.warn(
            f"bloom index {index_uuid!r} carries hash version stamp "
            f"{'<none: pre-stamp index>' if stored_hv is None else stored_hv}"
            f" (current {BLOOM_HASH_VERSION}) — rebuilding the "
            "bitmap from the persisted key set under the current hashing",
            stacklevel=2,
        )

    new_keys = _bench_shingle_keys(new_bench, n, text_col)
    known = read_table(spark, root, _keys_uuid(index_uuid))
    update_dataset(
        spark,
        new_keys.join(known, "kh", "left_anti"),
        root,
        _keys_uuid(index_uuid),
        sort_partitions_by=["kh"],
        metadata=dict(extra_metadata or {}),
    )
    all_keys = read_table(spark, root, _keys_uuid(index_uuid))
    n_keys = all_keys.count()
    if n_keys * 8 > m_bits:
        # correctness survives ANY load factor (false positives die in
        # the verification join) but the prefilter stops filtering — the
        # whole point of the bitmap. The keys dataset permits a full
        # rebuild at any size, so sync AUTO-RESIZES: double to
        # DEFAULT_BITS_PER_KEY per key (cap MAX_BLOOM_BITS) and write
        # the new size into the manifest — probes always read m_bits
        # from there, so the grown bitmap is picked up atomically with
        # the words commit. An index created from an unrepresentative
        # batch 0 (streaming) heals on its first saturating sync.
        import warnings

        new_m = m_bits
        while new_m < n_keys * DEFAULT_BITS_PER_KEY and new_m < MAX_BLOOM_BITS:
            new_m <<= 1
        if new_m > m_bits:
            warnings.warn(
                f"bloom index {index_uuid!r}: {n_keys} keys saturated "
                f"{m_bits} bits (<8 bits/key) — auto-resizing bitmap to "
                f"{new_m} bits (rebuild from the persisted key set)",
                stacklevel=2,
            )
            m_bits = new_m
        else:
            warnings.warn(
                f"bloom index {index_uuid!r} holds {n_keys} keys at the "
                f"{MAX_BLOOM_BITS}-bit cap (<8 bits/key): false-positive "
                "rate is degrading and the bitmap cannot grow — switch "
                "this benchmark to the exact broadcast-join operator",
                stacklevel=2,
            )
    meta = {
        META_M_BITS: m_bits,
        META_K: k,
        META_N: n,
        META_HASH_VERSION: BLOOM_HASH_VERSION,
        **(extra_metadata or {}),
    }
    return store_dataframe_as_dataset(
        spark,
        bloom_words(all_keys, m_bits, k),
        root,
        index_uuid,
        sort_partitions_by=["word_idx"],
        metadata=meta,
        overwrite=True,
    )


def _load_bloom(spark: SparkSession, root: str, index_uuid: str):
    from kartothek_spark.dataset.read import read_table

    manifest = DatasetManifest.load(root, index_uuid)
    stored_hv = manifest.metadata.get(META_HASH_VERSION)
    if stored_hv is None or int(stored_hv) != BLOOM_HASH_VERSION:
        # probing a bitmap whose bit positions were derived under a
        # different hash version silently produces FALSE NEGATIVES —
        # the one failure mode a Bloom decontamination gate must never
        # have. Reject loudly; sync_bloom_index heals by rebuilding
        # from the (version-free) persisted key set. A MISSING stamp is
        # an UNKNOWN vintage, not version 1: pre-stamp indexes were in
        # fact built under the current v2 hashing, but the manifest
        # cannot prove it, so the one-time sync_bloom_index migration
        # (re-ship any suite, or an empty one) stamps them.
        raise ValueError(
            f"bloom index {index_uuid!r} carries hash version stamp "
            f"{'<none: pre-stamp index>' if stored_hv is None else stored_hv}"
            f" but this code probes under version "
            f"{BLOOM_HASH_VERSION}: probing would silently drop true "
            "hits. Run sync_bloom_index once (rebuilds the bitmap from "
            "the persisted key set and stamps the current version) "
            "before probing."
        )
    m_bits = int(manifest.metadata[META_M_BITS])
    k = int(manifest.metadata[META_K])
    n = int(manifest.metadata[META_N])
    words = dense_words(
        read_table(spark, root, index_uuid).collect(), m_bits
    )
    return words, m_bits, k, n


def bloom_contamination_hits_indexed(
    spark: SparkSession,
    train: DataFrame,
    root: str,
    index_uuid: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc hit counts against the PERSISTED index — value-identical
    to ``contamination_hits`` over everything indexed (shared oracle).
    The bitmap read is ~m/63 rows; the corpus pays one narrow scan and
    only candidates touch the keys dataset."""
    from kartothek_spark.dataset.read import read_table

    words, m_bits, k, n = _load_bloom(spark, root, index_uuid)
    cand = _candidate_shingles(train, words, m_bits, k, text_col, id_col, n)
    keys = read_table(spark, root, _keys_uuid(index_uuid))
    return _verify_hits(cand, keys, id_col)


def novelty_report_indexed(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    index_uuid: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc n-gram novelty vs the PERSISTED key set of a Bloom
    membership index — value-identical to
    :func:`~kartothek_spark.operators.contamination.novelty_report`
    against whatever corpus the index was built/synced over (shared
    oracle). The build-once key dataset (8 bytes per distinct shingle)
    replaces re-shingling the reference corpus on EVERY freshness
    report — the at-scale shape when the same reference scores many
    candidate feeds. The shingle ``n`` comes from the index manifest so
    probe and index can never disagree; no broadcast hint on the
    reference side (an index over a 100 TB corpus is the big side —
    AQE picks the join), matching ``novelty_report``'s stance."""
    from kartothek_spark.dataset.read import read_table
    from kartothek_spark.operators.contamination import _novelty_vs_ref_hashes

    manifest = DatasetManifest.load(root, index_uuid)
    n = int(manifest.metadata[META_N])
    ref = read_table(spark, root, _keys_uuid(index_uuid)).select(
        F.col("kh").alias("_h")
    )
    return _novelty_vs_ref_hashes(df, ref, n, text_col, id_col)


def bloom_decontaminate_indexed(
    spark: SparkSession,
    train: DataFrame,
    root: str,
    index_uuid: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The corpus minus every doc sharing an indexed shingle — value-
    identical to ``decontaminate`` over everything indexed (shared
    oracle)."""
    hits = bloom_contamination_hits_indexed(
        spark, train, root, index_uuid, text_col, id_col
    ).select(id_col)
    return train.join(hits, id_col, "left_anti")


__all__ = [
    "WORD_BITS",
    "DEFAULT_BLOOM_K",
    "EXPR_MAX_WORDS",
    "BLOOM_HASH_VERSION",
    "bloom_words",
    "bloom_words_sql",
    "bench_shingle_keys_sql",
    "bloom_member_expr",
    "bloom_member_scalar",
    "bloom_contamination_hits",
    "build_bloom_index",
    "sync_bloom_index",
    "bloom_contamination_hits_indexed",
    "bloom_decontaminate_indexed",
]
