"""Incrementally-maintained MinHash signature index: dedup NEW documents
against the full corpus history without re-scanning the corpus.

This is the 100 TB dedup shape batch :func:`~kartothek_spark.operators.
dedup.minhash_lsh_pairs` cannot provide: a daily-ingest pipeline cannot
re-shingle and re-band petabytes of already-indexed text per batch. The
index is a pair of managed datasets (same manifest/commit machinery as
every other dataset — reference parity: kartothek's secondary indices
are likewise persisted copy-on-write datasets, kartothek/core/index.py):

* ``<uuid>`` — one row per indexed document: ``(doc_id, ck, sig)`` where
  ``ck`` is the 128-bit content key over the normalized token stream
  (identical docs share a ``ck``) and ``sig`` the ``num_hashes``-long
  MinHash signature.
  The sync cursor (source snapshot version) lives in its metadata.
* ``<uuid>__ckpairs`` — the verified near-duplicate relation at the
  content-key level: ``(ck_a, ck_b, jaccard)``. Needed so that a NEW
  member of an ALREADY-KNOWN content key can inherit its key's
  previously-verified cross-key pairs without re-banding anything.

Incremental invariant (tested in ``tests/test_dedup_index.py``): the
union of pair sets returned by successive syncs equals the batch
operator's output over the live corpus, for ANY split of the corpus into
append batches — for corpora whose band buckets stay under the batch
operator's ``max_band_bucket`` hot-bucket cap. This holds because band
keys and Jaccard depend only on the shingle SET (equal for all members
of a ``ck``), so verification outcome is representative-independent.
The incremental path deliberately applies NO bucket cap: the cap is
history-dependent (a bucket crosses the limit at some sync, after
earlier syncs already emitted its pairs), so a capped incremental union
could never equal a capped batch run — instead the index keeps full
recall and callers who need the blowup bound cap at query time on the
emitted pair stream.

A build or refresh runs the batch operator's key-level half
(:func:`~kartothek_spark.operators.dedup.minhash_key_pairs`, no bucket
cap) over the pinned snapshot, distributed. An incremental sync costs
O(new docs + candidate pairs): Spark runs four filtered scans, each one
``toArrow()`` job, and the driver joins the content keys:

1. the delta's ``(doc_id, ck, shingles, sig)`` from the changes feed;
2. the ``__ckpairs`` rows with either key in the delta (read
   symmetrically, whatever orientation an older build stored);
3. the index rows whose ``ck`` is a delta key or a partner key from 2, or
   whose band key equals, in the same band, a band key of a delta key —
   all members of a key share its signature, so one scan returns them all;
4. one shingle set per candidate key outside the delta, by id.

The driver finds the fresh keys (delta keys the index lacks) and their
candidate keys, verifies the exact Jaccard, expands the cross, inherited
and intra pairs, and commits ``__ckpairs`` and then the cursor-carrying
index from its own rows. Its memory holds the delta's rows, the index
rows of the delta keys and the candidate keys, the stored key pairs of
the delta keys and one shingle set per candidate key; the whole index is
never held on the driver. Every corpus read (1 and 4) comes from the
pinned :class:`~kartothek_spark.dataset.sync.SyncPass`, and the index
carrying the cursor commits last.

The driver's Jaccard must equal Spark's ``round(|∩|/|∪|, 6)`` bit for
bit: inherited pairs carry the Jaccard of whichever side verified the key
pair. :func:`_jaccard` rounds half-up at the ratio's shortest decimal
rendering, as Spark rounds ``BigDecimal(Double.toString(x))``; Python's
``round(x, 6)`` rounds the binary value half-even and differs on 416 of
the 721,800 ratios p/q with 0 <= p <= q <= 1200
(``tests/test_dedup_index.py`` checks them all against Spark).
"""

from __future__ import annotations

from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal
from functools import reduce

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kartothek_spark.operators._util import finish
from kartothek_spark.operators.dedup import (
    MINHASH_BANDS,
    MINHASH_NUM_HASHES,
    MINHASH_SHINGLE_WORDS,
    member_pairs,
    minhash_base,
    minhash_key_pairs,
    minhash_sig_expr,
)

_INDEX_KEY = "ktk_minhash_index"
_MICRO = Decimal("1e-6")

_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
    ]
)


def _pairs_suffix(index_uuid: str) -> str:
    return f"{index_uuid}__ckpairs"


def _jaccard(inter: int, union: int) -> float:
    """Spark's ``round(inter / union, 6)`` on the driver, bit for bit."""
    return float(Decimal(repr(inter / union)).quantize(_MICRO, ROUND_HALF_UP))


def _band_keys(sig, bands: int) -> list[str]:
    """The ``'_'``-joined signature slice of each band, as
    :func:`~kartothek_spark.operators.dedup._banded` renders it."""
    rows = len(sig) // bands
    return ["_".join(map(str, sig[b * rows:(b + 1) * rows])) for b in range(bands)]


def sync_minhash_index(
    spark: SparkSession,
    corpus_root: str,
    corpus_uuid: str,
    index_root: str,
    index_uuid: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Advance the index to the corpus's live snapshot and return the NEW
    near-duplicate pairs ``(id_a, id_b, jaccard)`` — exactly the pairs
    with at least one side appended since the previous sync. The result
    is computed before the index datasets are committed (a checkpoint
    after a build, the driver's own rows after an incremental sync), so
    it is stable against the commit.

    First call builds the index from the full corpus and returns all
    pairs (== the batch operator's output). If corpus partitions were
    DROPPED since the cursor, the index is rebuilt from the live corpus
    and the full live pair set is re-emitted (``refresh`` — consumers
    should replace, not append, their derived duplicate table; same
    contract as :func:`~kartothek_spark.dataset.sync.sync_derived_dataset`).
    An incremental sync joins the new documents' content keys on the
    driver (module docstring).

    The protocol is :func:`kartothek_spark.dataset.sync.cursor_step`:
    corpus reads come from the snapshot the cursor records, and
    ``<uuid>__ckpairs`` commits before the cursor-carrying ``<uuid>``. A
    sync that fails between the two raises and keeps the cursor, so the
    retry emits the whole delta's pairs; the key pairs it re-sends to
    ``__ckpairs`` are value-neutral (inherited pairs and the returned
    pairs are distinct)."""
    from kartothek_spark.dataset.sync import cursor_step

    params = {
        "src_uuid": corpus_uuid,
        "threshold": threshold,
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_words": MINHASH_SHINGLE_WORDS,
    }
    args = (index_root, index_uuid, text_col, id_col, threshold, num_hashes, bands)
    _mode, _version, pairs = cursor_step(
        spark, _INDEX_KEY, params, corpus_root, corpus_uuid, index_root,
        (_pairs_suffix(index_uuid), index_uuid),
        lambda p: _build(p, *args), lambda p: _sync(p, *args),
    )
    return pairs if pairs is not None else spark.createDataFrame([], _PAIR_SCHEMA)


def _build(p, index_root, index_uuid, text_col, id_col, threshold, num_hashes, bands):
    """Initial build or refresh over the pinned snapshot: the batch
    operator's key pairs and member expansion, distributed."""
    from kartothek_spark.dataset.write import store_dataframe_as_dataset

    base, reps, key_pairs = minhash_key_pairs(
        p.full(), text_col, id_col, threshold, num_hashes, bands, None, "checkpoint"
    )
    # each frame below feeds a commit and (key pairs) the returned pairs:
    # materialize once, before the pinned base is released
    key_pairs = key_pairs.select(
        F.least("ck_a", "ck_b").alias("ck_a"), F.greatest("ck_a", "ck_b").alias("ck_b"), "jaccard"
    ).localCheckpoint(eager=True)
    members = base.select("__id", "__ck")
    rows = members.join(reps.select("__ck", "__sig"), "__ck").select(
        F.col("__id").alias("doc_id"), F.col("__ck").alias("ck"), F.col("__sig").alias("sig")
    ).localCheckpoint(eager=True)
    pairs = finish(member_pairs(members, key_pairs, threshold), "checkpoint", base)

    def store(uuid: str, df: DataFrame):
        return lambda meta: store_dataframe_as_dataset(p.spark, df, index_root, uuid, metadata=meta)

    pairs_uuid = _pairs_suffix(index_uuid)
    p.commit({pairs_uuid: store(pairs_uuid, key_pairs), index_uuid: store(index_uuid, rows)})
    return pairs


def _sync(p, index_root, index_uuid, text_col, id_col, threshold, num_hashes, bands):
    """Incremental sync: four filtered scans, the key join on the driver
    (module docstring)."""
    from kartothek_spark.dataset.read import read_table
    from kartothek_spark.dataset.write import update_dataset

    spark = p.spark
    pairs_uuid = _pairs_suffix(index_uuid)

    # 1. the delta, per document
    delta = (
        minhash_base(p.changes(), text_col, id_col)
        .select(
            F.col("__id").alias("doc_id"),
            F.col("__ck").alias("ck"),
            "__sh",
            minhash_sig_expr("__sh", num_hashes).alias("sig"),
        )
        .toArrow()
    )
    members: dict[str, set] = defaultdict(set)  # ck -> ids, indexed and new
    new: dict[str, set] = defaultdict(set)  # ck -> the delta's ids
    sig_of: dict[str, list] = {}
    sh_of: dict[str, set] = {}
    for i, ck, sh, sig in zip(*(delta.column(c).to_pylist() for c in ("doc_id", "ck", "__sh", "sig"))):
        new[ck].add(i)
        members[ck].add(i)
        sig_of[ck] = sig
        sh_of[ck] = set(sh)

    stored: list[tuple] = []
    key_pairs: list[tuple] = []
    if new:
        keys = sorted(new)
        # 2. stored key pairs touching the delta, either orientation
        stored = _rows(
            read_table(spark, index_root, pairs_uuid)
            .where(F.col("ck_a").isin(keys) | F.col("ck_b").isin(keys)),
            ("ck_a", "ck_b", "jaccard"),
        )
        partners = {ck for a, b, _ in stored for ck in (a, b)} - set(keys)
        # 3. index rows of the delta and partner keys and of every key
        # sharing a band key with a delta key, band by band
        by_band = zip(*(_band_keys(sig_of[ck], bands) for ck in keys))
        rows = num_hashes // bands
        near = [
            F.concat_ws("_", *[F.col("sig")[j].cast("string") for j in range(b * rows, (b + 1) * rows)])
            .isin(sorted(set(band_keys)))
            for b, band_keys in enumerate(by_band)
        ]
        indexed = read_table(spark, index_root, index_uuid).where(
            reduce(lambda x, y: x | y, near, F.col("ck").isin(keys + sorted(partners)))
        )
        fresh = set(keys)
        for i, ck, sig in _rows(indexed, ("doc_id", "ck", "sig")):
            members[ck].add(i)
            sig_of.setdefault(ck, sig)
            fresh.discard(ck)

        # candidate key pairs: a fresh key and any other key sharing one
        # of its (band, band key) buckets
        bucket = defaultdict(set)
        for ck, sig in sig_of.items():
            for b, k in enumerate(_band_keys(sig, bands)):
                bucket[b, k].add(ck)
        cand = {
            (min(f, g), max(f, g))
            for f in fresh
            for b, k in enumerate(_band_keys(sig_of[f], bands))
            for g in bucket[b, k]
            if g != f
        }

        # 4. one shingle set per candidate key outside the delta: any
        # member's serves, all members share the token stream
        need = {ck for pair in cand for ck in pair if ck not in sh_of}
        if need:
            ids = sorted(min(members[ck]) for ck in need)
            fetched = minhash_base(p.full().where(F.col(id_col).isin(ids)), text_col, id_col)
            for ck, sh in _rows(fetched, ("__ck", "__sh")):
                sh_of[ck] = set(sh)

        for a, b in sorted(cand):
            inter = len(sh_of[a] & sh_of[b])
            j = _jaccard(inter, len(sh_of[a]) + len(sh_of[b]) - inter)
            if j >= threshold:
                key_pairs.append((a, b, j))

    # member pairs with a new side: fresh key pairs over all members,
    # stored key pairs over the new members of either endpoint, and the
    # new members of each key with its other members
    out = set()

    def cross(left, right, j):
        out.update((min(x, y), max(x, y), j) for x in left for y in right)

    for a, b, j in key_pairs:
        cross(members[a], members[b], j)
    for a, b, j in stored:
        cross(new.get(a, ()), members[b], j)
        cross(members[a], new.get(b, ()), j)
    if threshold <= 1.0:
        for ck, ids in new.items():
            out.update((min(x, y), max(x, y), 1.0) for x in ids for y in members[ck] if x != y)

    id_type = delta.schema.field("doc_id").type
    pairs = spark.createDataFrame(_table(
        sorted(out), pa.schema([("id_a", id_type), ("id_b", id_type), ("jaccard", pa.float64())])
    ))
    fresh_ckpairs = _table(key_pairs, pa.schema([("ck_a", pa.string()), ("ck_b", pa.string()), ("jaccard", pa.float64())]))

    def land(uuid: str, table: pa.Table):
        df = spark.createDataFrame(table) if table.num_rows else None
        return lambda meta: update_dataset(spark, df, index_root, uuid, metadata=meta)

    p.commit({
        pairs_uuid: land(pairs_uuid, fresh_ckpairs),
        index_uuid: land(index_uuid, delta.select(["doc_id", "ck", "sig"])),
    })
    return pairs


def _table(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    cols = list(zip(*rows)) or [()] * len(schema)
    return pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema)


def _rows(df: DataFrame, cols) -> list[tuple]:
    """``cols`` of ``df`` as driver tuples, in one ``toArrow()`` job."""
    table = df.select(*cols).toArrow()
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


__all__ = ["sync_minhash_index"]
