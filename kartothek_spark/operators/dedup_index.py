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

Per-sync cost is O(new docs + candidate pairs): signatures are computed
for new documents only, the banding join is (new content keys) ×
(all content keys) on (band, key), and exact-Jaccard verification
re-reads ONLY the candidate partner representatives from the corpus
(a semi-join pruned scan, never a full pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kartothek_spark.functions.hashing import tokens
from kartothek_spark.operators._util import scale_out
from kartothek_spark.operators.dedup import (
    MINHASH_BANDS,
    MINHASH_NUM_HASHES,
    MINHASH_SHINGLE_WORDS,
)

_INDEX_KEY = "ktk_minhash_index"

_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
    ]
)


def _pairs_suffix(index_uuid: str) -> str:
    return f"{index_uuid}__ckpairs"


def _shingled(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(__id, __sh, __ck) — identical staging to the batch operator so the
    incremental pair set is bit-identical to ``minhash_lsh_pairs``;
    ``__sh`` carries HASHED shingles (dedup.hashed_shingles)."""
    from kartothek_spark.operators.dedup import hashed_shingles

    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__t"))
        .select(
            "__id",
            hashed_shingles(F.col("__t"), MINHASH_SHINGLE_WORDS).alias("__sh"),
            # token-stream content key, same rationale as the batch
            # operator (dedup.py minhash_lsh_pairs): refines the shingle
            # set, 3× cheaper than hashing the shingle concat
            F.md5(F.concat_ws("\x01", "__t")).alias("__ck"),
        )
    )


def _signatures(reps: DataFrame, num_hashes: int) -> DataFrame:
    """(__ck, sig) from (__ck, __sh): ONE md5 per shingle via the
    zero-shuffle per-row fold shared with the batch operator
    (:func:`kartothek_spark.operators.dedup.minhash_sig_expr`)."""
    from kartothek_spark.operators.dedup import minhash_sig_expr

    return reps.select("__ck", minhash_sig_expr("__sh", num_hashes).alias("sig"))


def _banded(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(__ck, band, key) — band key is the '_'-joined signature slice,
    identical to the batch operator's rendering."""
    rows = num_hashes // bands
    return sigs.select(
        "__ck",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_", *[F.col("sig")[j].cast("string") for j in range(b * rows, (b + 1) * rows)]
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("__ck", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


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
    is materialized (checkpointed) before the index datasets are
    committed, so it is stable against the commit.

    First call builds the index from the full corpus and returns all
    pairs (== the batch operator's output). If corpus partitions were
    DROPPED since the cursor, the index is rebuilt from the live corpus
    and the full live pair set is re-emitted (``refresh`` — consumers
    should replace, not append, their derived duplicate table; same
    contract as :func:`~kartothek_spark.dataset.sync.sync_derived_dataset`).

    The protocol is :func:`kartothek_spark.dataset.sync.cursor_step`:
    corpus reads come from the snapshot the cursor records, and
    ``<uuid>__ckpairs`` commits before the cursor-carrying ``<uuid>``. A
    sync that fails between the two raises and keeps the cursor, so the
    retry emits the whole delta's pairs; the key pairs it re-sends to
    ``__ckpairs`` are value-neutral (inherited pairs and the returned
    pairs are ``distinct()``)."""
    from kartothek_spark.dataset.sync import cursor_step

    params = {
        "src_uuid": corpus_uuid,
        "threshold": threshold,
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_words": MINHASH_SHINGLE_WORDS,
    }

    def advance(p) -> DataFrame:
        return _advance(p, index_root, index_uuid, text_col, id_col, threshold, num_hashes, bands)

    _mode, _version, pairs = cursor_step(
        spark, _INDEX_KEY, params, corpus_root, corpus_uuid, index_root,
        (_pairs_suffix(index_uuid), index_uuid), advance, advance,
    )
    return pairs if pairs is not None else spark.createDataFrame([], _PAIR_SCHEMA)


def _advance(p, index_root, index_uuid, text_col, id_col, threshold, num_hashes, bands):
    """The sync's build and incremental body (a
    :class:`~kartothek_spark.dataset.sync.SyncPass` ``p``)."""
    from kartothek_spark.dataset.read import read_table
    from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset

    spark = p.spark
    pairs_uuid = _pairs_suffix(index_uuid)
    incremental = p.mode == "incremental"
    if incremental:
        new_docs = p.changes()
        old_rows = read_table(spark, index_root, index_uuid)
        old_ckpairs = read_table(spark, index_root, pairs_uuid)
    else:
        new_docs = p.full()
        old_rows = None
        old_ckpairs = None

    new_base = _shingled(scale_out(new_docs), text_col, id_col).persist()
    new_members = new_base.select("__id", "__ck")
    new_reps = new_base.groupBy("__ck").agg(
        F.min("__id").alias("__rid"), F.first("__sh").alias("__sh")
    ).persist()
    new_sigs = _signatures(new_reps, num_hashes)

    if old_rows is not None:
        old_members = old_rows.select(F.col("doc_id").alias("__id"), F.col("ck").alias("__ck"))
        old_sigs = old_rows.groupBy("ck").agg(F.first("sig").alias("sig")).select(
            F.col("ck").alias("__ck"), "sig"
        )
        # only content keys never seen before enter the banding join —
        # a new member of a known key inherits the key's stored pairs
        fresh_sigs = new_sigs.join(old_sigs.select("__ck"), "__ck", "left_anti").persist()
        all_members = old_members.unionByName(new_members)
        all_sigs = old_sigs.unionByName(fresh_sigs)
    else:
        fresh_sigs = new_sigs.persist()
        all_members = new_members
        all_sigs = fresh_sigs

    # ---- cross-key candidates: band(fresh) ⋈ band(all), key-level ----
    lb = _banded(fresh_sigs, num_hashes, bands).alias("l")
    rb = _banded(all_sigs, num_hashes, bands).alias("r")
    cand = (
        lb.join(
            rb,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.__ck") != F.col("r.__ck")),
        )
        .select(
            F.least(F.col("l.__ck"), F.col("r.__ck")).alias("ck_a"),
            F.greatest(F.col("l.__ck"), F.col("r.__ck")).alias("ck_b"),
        )
        .distinct()
        # three consumers (candidate-ck list, missing-rep list, verify
        # join) — cut the banding join's lineage so it runs once
        .localCheckpoint(eager=True)
    )

    # ---- exact-Jaccard verification on candidate representatives only ----
    # representative = min doc id per ck; its shingle array is re-derived
    # from the corpus via a candidate-pruned semi-join scan (new-ck reps
    # short-circuit through new_reps, no corpus read for them)
    if not incremental:
        # build: every candidate rep is new — no corpus refetch
        shingle_sets = new_reps.select("__ck", "__sh")
    else:
        all_reps = all_members.groupBy("__ck").agg(F.min("__id").alias("__rid"))
        cand_cks = cand.select(F.col("ck_a").alias("__ck")).unionByName(
            cand.select(F.col("ck_b").alias("__ck"))
        ).distinct()
        need = all_reps.join(cand_cks, "__ck")
        have_new = need.join(
            new_reps.select("__ck", "__sh"), "__ck", "inner"
        ).select("__ck", "__sh")
        missing_ids = need.join(new_reps.select("__ck"), "__ck", "left_anti").select(
            F.col("__rid").alias(id_col)
        )
        refetched = _shingled(
            p.full().join(missing_ids, id_col, "left_semi"), text_col, id_col
        ).select("__ck", "__sh")
        shingle_sets = have_new.unionByName(refetched)

    sa = shingle_sets.select(F.col("__ck").alias("ck_a"), F.col("__sh").alias("sh_a"))
    sb = shingle_sets.select(F.col("__ck").alias("ck_b"), F.col("__sh").alias("sh_b"))
    fresh_ckpairs = (
        cand.join(sa, "ck_a")
        .join(sb, "ck_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("ck_a", "ck_b", "jaccard")
        # materialize once: the banding join + corpus candidate re-read +
        # verify chain above feeds BOTH the returned pairs and the ckpairs
        # dataset commit — without the cut it would run twice more
        .localCheckpoint(eager=True)
    )

    # ---- expand key-level pairs to member pairs (new side required) ----
    ma = all_members.select(F.col("__ck").alias("ck_a"), F.col("__id").alias("ia"))
    mb = all_members.select(F.col("__ck").alias("ck_b"), F.col("__id").alias("ib"))
    cross_fresh = (
        fresh_ckpairs.join(ma, "ck_a")
        .join(mb, "ck_b")
        .select(F.least("ia", "ib").alias("id_a"), F.greatest("ia", "ib").alias("id_b"), "jaccard")
    )

    if old_ckpairs is not None:
        # stored key pairs × new members of either endpoint; the partner
        # endpoint expands over ALL its members (old ones included — those
        # (new, old) pairs are exactly what re-banding would have found)
        na = new_members.select(F.col("__ck").alias("ck_a"), F.col("__id").alias("ia"))
        nb = new_members.select(F.col("__ck").alias("ck_b"), F.col("__id").alias("ib"))
        inherited = (
            old_ckpairs.join(na, "ck_a")
            .join(mb, "ck_b")
            .select("ia", "ib", "jaccard")
            .unionByName(
                old_ckpairs.join(ma, "ck_a").join(nb, "ck_b").select("ia", "ib", "jaccard")
            )
            .select(
                F.least("ia", "ib").alias("id_a"),
                F.greatest("ia", "ib").alias("id_b"),
                "jaccard",
            )
            .distinct()
        )
        cross = cross_fresh.unionByName(inherited)
    else:
        cross = cross_fresh

    # ---- intra-key pairs: identical shingle sets, jaccard exactly 1 ----
    nl = new_members.alias("nl")
    ar = all_members.alias("ar")
    intra = (
        nl.join(
            ar,
            (F.col("nl.__ck") == F.col("ar.__ck")) & (F.col("nl.__id") != F.col("ar.__id")),
        )
        .select(
            F.least(F.col("nl.__id"), F.col("ar.__id")).alias("id_a"),
            F.greatest(F.col("nl.__id"), F.col("ar.__id")).alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
        .distinct()
    )
    if threshold > 1.0:
        intra = intra.where(F.lit(False))

    pairs = cross.unionByName(intra).distinct().localCheckpoint(eager=True)

    # ---- commit: key pairs, then per-doc rows + cursor; pairs already safe ----
    # materialized once: the signature aggregation (one md5 per shingle)
    # otherwise re-runs for the row count AND again for the write
    new_rows = new_members.join(new_sigs, "__ck").select(
        F.col("__id").alias("doc_id"), F.col("__ck").alias("ck"), "sig"
    ).localCheckpoint(eager=True)
    # everything the commits and the caller read is checkpointed now
    new_base.unpersist()
    new_reps.unpersist()
    fresh_sigs.unpersist()

    def land(uuid: str, df: DataFrame):
        if incremental:
            return lambda meta: update_dataset(
                spark, df if df.count() else None, index_root, uuid, metadata=meta
            )
        return lambda meta: store_dataframe_as_dataset(spark, df, index_root, uuid, metadata=meta)

    p.commit({pairs_uuid: land(pairs_uuid, fresh_ckpairs), index_uuid: land(index_uuid, new_rows)})
    return pairs


__all__ = ["sync_minhash_index"]
